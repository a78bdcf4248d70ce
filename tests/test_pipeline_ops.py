"""Semantic tests for dedup / similarity / multimodal operators
(properties the oracle can't express: recall, completeness, plumbing)."""

import inspect

import numpy as np
import pytest
from pyspark.sql import functions as F

from photon_ml_spark.materialize import persist, scope
from photon_ml_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    return e.withColumn(
        "qe", F.transform("embedding", lambda x: x.cast("double"))
    ).cache()


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH with 16 hashes / 4 bands must find the high-similarity pairs
    (P[candidate | j≥0.9] = 1-(1-j⁴)⁴ ≈ 0.9996) and never emit a pair
    below threshold (exact verification)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=2).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.5, n=2).collect()
    }
    assert set(lsh) <= set(exact)  # verification: no false positives
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high, "corpus should contain planted near-dups"
    recall_high = len(high & set(lsh)) / len(high)
    assert recall_high >= 0.95
    for p, j in lsh.items():
        assert abs(j - exact[p]) < 1e-12


def test_jaccard_strategies_agree(docs):
    """copair and ppjoin are two physical plans for the same exact
    operator — identical output, threshold where float ceil rounds up."""
    for th in (0.5, 0.55):
        cp = {
            (r.id_a, r.id_b): (r.n_inter, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(docs, th, n=2, strategy="copair").collect()
        }
        pp = {
            (r.id_a, r.id_b): (r.n_inter, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(docs, th, n=2, strategy="ppjoin").collect()
        }
        assert cp == pp


def test_jaccard_prefix_float_ceil_boundary(spark):
    """threshold=0.55, |A|=100: float 0.55*100 = 55.000000000000007, so a
    ceil without the epsilon guard shortens A's prefix to 45 and misses
    the B⊂A pair with J = 55/100 = 0.55 exactly (the smallest common
    shingle sits at position 46 of A's df-ascending order)."""
    rows = [(1, f"u{i:02d}") for i in range(45)]
    rows += [(1, f"s{i:02d}") for i in range(55)]
    rows += [(2, f"s{i:02d}") for i in range(55)]
    sh = spark.createDataFrame(rows, ["doc_id", "shingle"])
    out = dedup._jaccard_ppjoin(sh, 0.55, "doc_id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b, r.n_inter) == (1, 2, 55)
    assert abs(r.jaccard - 0.55) < 1e-12
    # copair agrees
    cp = dedup._jaccard_copair(sh, 0.55, "doc_id").collect()
    assert len(cp) == 1 and cp[0].n_inter == 55


def test_jaccard_strategies_agree_zipf_regime(spark):
    """The sparse-vocabulary regime (mean df ~1.5, where auto routes to
    ppjoin): both strategies still find exactly the planted pairs."""
    import random

    random.seed(7)
    vocab = [f"w{i}" for i in range(10_000)]
    weights = [1.0 / (i + 1) for i in range(10_000)]
    rows = [
        (d, " ".join(random.choices(vocab, weights=weights, k=40)))
        for d in range(2_000)
    ]
    for i in range(20):  # planted near-dups: one token changed
        toks = rows[i][1].split()
        toks[3] = "zz"
        rows.append((100_000 + i, " ".join(toks)))
    df2 = spark.createDataFrame(rows, "doc_id long, text string")
    cp = {(r.id_a, r.id_b) for r in
          dedup.ngram_jaccard_pairs(df2, 0.8, n=2, strategy="copair").collect()}
    pp = {(r.id_a, r.id_b) for r in
          dedup.ngram_jaccard_pairs(df2, 0.8, n=2, strategy="ppjoin").collect()}
    auto = {(r.id_a, r.id_b) for r in
            dedup.ngram_jaccard_pairs(df2, 0.8, n=2, strategy="auto").collect()}
    assert cp == pp == auto
    assert {(i, 100_000 + i) for i in range(20)} <= cp


def test_jaccard_and_cc_release_intermediate_caches(spark, docs):
    """ngram_jaccard_pairs must release its corpus-sized intermediates
    (shingle relation; ppjoin's per-doc ordered arrays) once the pairs
    frame is materialized, and connected_components must release every
    superseded per-iteration label checkpoint — at corpus scale a
    stale MEMORY_AND_DISK block competes with live caches. Each call
    may leave exactly ONE new persistent RDD: the returned frame's own
    checkpoint (caller-owned)."""
    from photon_ml_spark.materialize import release

    jsc = spark.sparkContext._jsc
    docs.count()  # register the fixture's cache before the snapshot
    small = docs.limit(200)

    for strategy in ("copair", "ppjoin"):
        before = set(jsc.getPersistentRDDs().keySet())
        out = dedup.ngram_jaccard_pairs(small, 0.5, n=2, strategy=strategy)
        out.collect()
        new = set(jsc.getPersistentRDDs().keySet()) - before
        assert len(new) <= 1, (
            f"{strategy} leaked {len(new)} cached RDDs (expected only "
            "the returned pairs checkpoint)"
        )
        release(out)
        assert not (set(jsc.getPersistentRDDs().keySet()) - before)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    before = set(jsc.getPersistentRDDs().keySet())
    cc = dedup.connected_components(edges)
    assert cc.agg(F.count_distinct("component")).first()[0] == 1
    new = set(jsc.getPersistentRDDs().keySet()) - before
    assert len(new) <= 1, (
        f"connected_components leaked {len(new)} cached RDDs (expected "
        "only the final labels checkpoint)"
    )


def test_jaccard_bad_args(docs):
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(docs, 1.5)
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(docs, 0.5, strategy="nope")


def test_simhash_band_completeness(docs):
    """Banded candidate generation must find every pair the full cross
    join finds (pigeonhole guarantee bands > max_hamming)."""
    sids = dedup.token_ids(docs, n=2).cache()
    sigs = dedup.simhash_signatures(sids).cache()
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
    )
    brute_pairs = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_neardup_pairs(docs, max_hamming=3, n=2).collect()
    }
    assert banded == brute_pairs


def test_simhash_bad_bands_raises(docs):
    with pytest.raises(ValueError):
        dedup.simhash_neardup_pairs(docs, max_hamming=4, bands=4)


def test_ivf_speedup_and_recall(emb):
    """IVF cell restriction compares ~4x fewer pairs; recall against
    brute force is measured (hyperplane cells on weakly-clustered data
    land ~30-60%) — the structural contract is candidates ⊂ corpus and
    exact cosine on whatever it does compare."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    brute = similarity.cosine_topk(emb, queries, k=5, vec_col="qe")
    cells = emb.withColumn(
        "cell",
        similarity.hyperplane_cell(
            F.col("qe"), similarity.alternating_patterns(64, 2)
        ),
    )
    ivf = similarity.ivf_topk(
        cells, cells.filter(F.col("vec_id") % 25 == 0), k=5,
        cell_col="cell", vec_col="qe",
    )
    bp = {(r.query_id, r.vec_id) for r in brute.collect()}
    ip = {(r.query_id, r.vec_id) for r in ivf.collect()}
    recall = len(bp & ip) / len(bp)
    assert 0.1 <= recall <= 1.0
    # every IVF hit shares the query's cell by construction
    cell_of = {r.vec_id: r.cell for r in cells.select("vec_id", "cell").collect()}
    for q, v in ip:
        assert cell_of[q] == cell_of[v]


def test_blas_topk_bit_identical_to_expression_path(emb):
    """cosine_topk_blas must reproduce cosine_topk exactly — same
    (query, id, rank) sets AND bit-equal cosines. Exact bit equality
    requires integer-valued vectors (matmul reassociates the dot-product
    sum; integer summands make every order exact), so quantize first —
    the same convention every oracle query uses."""
    q = emb.withColumn("qe", F.transform("qe", lambda x: F.round(x * 1000, 0)))
    queries = q.filter(F.col("vec_id") % 25 == 0)
    a = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in similarity.cosine_topk(q, queries, k=5, vec_col="qe").collect()
    }
    b = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in similarity.cosine_topk_blas(
            q, queries, k=5, vec_col="qe"
        ).collect()
    }
    assert a == b


def test_multimodal_decode_plumbing(docs):
    payloads = multimodal.attach_payload(docs)
    # the real path never raises: non-image payloads (these are text
    # bytes) come back decode_ok=False through the stdlib decoder
    real = multimodal.decode_image(payloads)
    assert real.filter("decode_ok").count() == 0
    assert real.count() == docs.count()

    decoded = multimodal.decode_image(payloads, fake=True).cache()
    assert decoded.count() == docs.count()
    row = decoded.first()
    assert 16 <= row.width < 256 and 16 <= row.height < 256
    assert 0.0 <= row.mean_luma <= 1.0 and row.decode_ok

    # determinism: same payload → same fake decode
    again = multimodal.decode_image(payloads, fake=True)
    d = decoded.select("doc_id", "width").join(
        again.select("doc_id", F.col("width").alias("w2")), "doc_id"
    )
    assert d.filter(F.col("width") != F.col("w2")).count() == 0

    planned = multimodal.resize_plan(decoded, 224, 224)
    bad = planned.filter(
        (F.col("out_w") > 224) | (F.col("out_h") > 224)
        | ((F.col("out_w") < 224) & (F.col("out_h") < 224))
    )
    assert bad.count() == 0  # letterbox: one side exactly 224


@pytest.mark.skipif(
    not multimodal._pil_available(), reason="Pillow not installed"
)
def test_multimodal_real_decode(spark):
    """Real-decode path (runs only where Pillow exists): a synthetic
    PNG decodes to its true dimensions and luma; junk bytes yield
    decode_ok=False rows, not task failures."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (40, 30), color=(255, 255, 255)).save(buf, format="PNG")
    rows = [(1, bytearray(buf.getvalue()), "image/png"),
            (2, bytearray(b"not an image"), "image/png")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    )
    out = {r.doc_id: r for r in multimodal.decode_image(df).collect()}
    assert (out[1].width, out[1].height) == (40, 30)
    assert out[1].decode_ok and out[1].mean_luma == pytest.approx(1.0)
    assert not out[2].decode_ok


def test_pii_scan_detects_and_redacts(spark):
    from photon_ml_spark.operators.text import pii_scan

    df = spark.createDataFrame(
        [
            (1, "write to bob.smith+x@example.co.uk or call 555-123-4567"),
            (2, "card 1234567890123456 expires soon; backup 555-000-1111"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scan(df).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_card_numbers) == (1, 1, 0)
    assert (out[2].n_emails, out[2].n_phones, out[2].n_card_numbers) == (0, 1, 1)
    assert (out[3].n_emails, out[3].n_phones, out[3].n_card_numbers) == (0, 0, 0)
    assert "bob" not in out[1].text_redacted and "[PII]" in out[1].text_redacted
    assert "1234567890123456" not in out[2].text_redacted
    assert out[3].text_redacted == "nothing sensitive here"


def test_repetition_stats_flags_boilerplate(spark):
    from photon_ml_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "each word here appears exactly once"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].dup_token_frac == pytest.approx(6 / 8)
    assert out[1].dup_bigram_frac == pytest.approx(5 / 7)
    assert out[2].dup_token_frac == 0.0 and out[2].dup_bigram_frac == 0.0
    assert out[3].dup_token_frac == 0.0 and out[3].dup_bigram_frac == 0.0


def test_audio_decode_plumbing(docs):
    payloads = multimodal.attach_payload(docs)
    # the real path never raises: non-WAV payloads (these are text
    # bytes) come back decode_ok=False through the stdlib WAV decoder
    real = multimodal.decode_audio(payloads)
    assert real.filter("decode_ok").count() == 0
    assert real.count() == docs.count()
    decoded = multimodal.decode_audio(payloads, fake=True)
    planned = multimodal.resample_plan(decoded, target_rate=16000)
    row = planned.first()
    assert row.sample_rate in (8000, 16000, 22000, 44000)
    assert row.n_samples >= 1000 and 0.0 <= row.rms <= 1.0 and row.decode_ok
    # resample bookkeeping: out_samples = ceil(n * 16000 / rate)
    import math
    assert row.out_samples == math.ceil(row.n_samples * 16000.0 / row.sample_rate)


def test_audio_real_decode(spark):
    """Real audio path — no skip: soundfile where installed, else the
    stdlib PCM-WAV decoder, so this runs in codec-less containers too.
    A synthetic WAV decodes to its true rate/length/RMS; junk bytes
    yield decode_ok=False rows, not task failures."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<400h", *([16384] * 400)))
    rows = [(1, bytearray(buf.getvalue()), "audio/wav"),
            (2, bytearray(b"not audio"), "audio/wav")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    )
    out = {r.doc_id: r for r in multimodal.decode_audio(df).collect()}
    assert (out[1].sample_rate, out[1].n_samples) == (8000, 400)
    assert out[1].decode_ok and out[1].rms == pytest.approx(0.5, abs=0.01)
    assert not out[2].decode_ok


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 0.5), (3, 3600.0)], "id int, dur double")
    out = multimodal.frame_sample_plan(df, "dur", fps=2.0, max_frames=16)
    rows = {r.id: r.frame_ts for r in out.collect()}
    assert len(rows[1]) == 16  # 20 candidate frames capped at 16
    assert len(rows[2]) == 1
    assert len(rows[3]) == 16
    assert rows[1][1] == 0.5  # stride = 1/fps


def test_ivf_multiprobe_improves_recall(spark, emb):
    """Multi-probe searches the query's cell plus hamming-1 neighbor
    cells: recall must be >= single-cell and candidate volume must stay
    far below brute force."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators.similarity import (
        alternating_patterns,
        cosine_topk,
        hyperplane_cell,
        ivf_topk,
    )

    base = emb.withColumn(
        "cell", hyperplane_cell(F.col("embedding"), alternating_patterns(64, 3))
    ).cache()
    queries = base.filter(F.col("vec_id") % 40 == 0)
    brute = cosine_topk(base, queries, k=5)
    single = ivf_topk(base, queries, k=5, cell_col="cell")
    probed = ivf_topk(base, queries, k=5, cell_col="cell", n_probe_bits=3)

    def pairs(df):
        return {(r.query_id, r.vec_id) for r in df.collect()}

    bp, sp, pp = pairs(brute), pairs(single), pairs(probed)
    recall_single = len(bp & sp) / len(bp)
    recall_probed = len(bp & pp) / len(bp)
    assert recall_probed >= recall_single
    assert recall_probed >= 0.5  # hamming-1 probing over 8 cells


def test_kmeans_ivf_cells(spark, emb):
    """Learned (KMeans) IVF cells: all vectors assigned, cells used,
    and ivf_topk over learned cells reaches decent recall vs brute."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_cells,
    )

    celled, model = kmeans_cells(emb, k=4)
    celled = celled.cache()
    n_cells = celled.select("cell").distinct().count()
    assert n_cells == 4
    assert celled.filter(F.col("cell").isNull()).count() == 0

    queries = celled.filter(F.col("vec_id") % 40 == 0)
    brute = cosine_topk(celled, queries, k=5)
    learned = ivf_topk(celled, queries, k=5, cell_col="cell")
    bp = {(r.query_id, r.vec_id) for r in brute.collect()}
    lp = {(r.query_id, r.vec_id) for r in learned.collect()}
    recall_learned = len(bp & lp) / len(bp)

    # fixed hyperplane cells at the SAME fan-out (2 planes -> 4 cells):
    # the learned quantizer must do at least as well
    from photon_ml_spark.operators.similarity import (
        alternating_patterns,
        hyperplane_cell,
    )

    hp = emb.withColumn(
        "cell",
        hyperplane_cell(
            F.transform("embedding", lambda x: x.cast("double")),
            alternating_patterns(64, 2),
        ),
    )
    hq = hp.filter(F.col("vec_id") % 40 == 0)
    fp = {(r.query_id, r.vec_id)
          for r in ivf_topk(hp, hq, k=5, cell_col="cell").collect()}
    recall_fixed = len(bp & fp) / len(bp)
    assert recall_learned >= recall_fixed
    assert recall_learned >= 0.4


def test_connected_components_long_chain(spark):
    """A 12-node path is the pointer-jumping stress case: naive
    propagation needs 11 iterations, jumping needs ~log2."""
    edges = [(i, i + 1) for i in range(1, 12)] + [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    cc = {r.node: r.component
          for r in dedup.connected_components(pairs).collect()}
    assert cc == {**{i: 1 for i in range(1, 13)},
                  **{i: 100 for i in (100, 101, 102)}}


def test_connected_components_edge_direction_irrelevant(spark):
    pairs = spark.createDataFrame(
        [(5, 2), (2, 9), (9, 5), (7, 3)], "id_a long, id_b long"
    )
    cc = {r.node: r.component
          for r in dedup.connected_components(pairs).collect()}
    assert cc == {2: 2, 5: 2, 9: 2, 3: 3, 7: 3}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


_CC_CASES = {
    "chain": [(i, i + 1) for i in range(1, 12)] + [(100, 101), (101, 102)],
    "star": [(0, i) for i in range(1, 8)],
    "clique": [(i, j) for i in range(5) for j in range(5) if i < j],
    "reversed_duplicate": [(5, 2), (2, 9), (9, 5), (7, 3), (3, 7), (3, 7),
                           (9, 2)],
    "self_loops": [(4, 4), (4, 6), (8, 8)],
    "two_components": [(1, 2), (3, 4)],
    "empty": [],
    # a NULL end joins nothing, and the NULL node takes the component of
    # its smallest non-NULL neighbour (5 → 2, not 10 → 1)
    "null_endpoints": [(None, 5), (10, None), (1, 10), (None, None),
                       (20, 21), (5, 30), (30, 2)],
}


def _cc_map(spark, rows):
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    return {r.node: r.component
            for r in dedup.connected_components(pairs).collect()}


@pytest.mark.parametrize("case", list(_CC_CASES))
def test_connected_components_local_matches_distributed(
    spark, monkeypatch, case
):
    """The driver-side path gives the distributed loop's labels. A bound
    of -1 sends even an empty edge list to the loop."""
    local = _cc_map(spark, _CC_CASES[case])
    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", -1)
    assert _cc_map(spark, _CC_CASES[case]) == local
    if case == "null_endpoints":
        assert local == {None: 2, 1: 1, 10: 1, 20: 20, 21: 20, 2: 2, 5: 2,
                         30: 2}


def test_connected_components_local_path_jobs(spark, spark_jobs):
    """Below the bound: one bounded collect, and the result is a local
    relation, so resolving and reading the components takes ≤ 2 jobs."""
    pairs = spark.createDataFrame(_CC_CASES["chain"], "id_a long, id_b long")
    assert spark_jobs(
        lambda: dedup.connected_components(pairs).collect()
    ) <= 2


def test_connected_components_above_bound_runs_loop(spark, monkeypatch):
    """More edges than the bound run the distributed loop (its init and
    iteration checkpoints), which still releases everything but the
    returned labels; at the bound no checkpoint runs."""
    calls = []
    real = dedup.checkpoint

    def counted(df, *a, **k):
        calls.append(1)
        return real(df, *a, **k)

    monkeypatch.setattr(dedup, "checkpoint", counted)
    rows = _CC_CASES["two_components"] + [(2, 3), (3, 5), (6, 7)]
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6}
    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", len(rows))
    assert _cc_map(spark, rows) == expected
    assert not calls
    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", len(rows) - 1)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert _cc_map(spark, rows) == expected
    assert len(calls) >= 2
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1


def test_connected_components_above_bound_reads_pairs_once(
    spark, monkeypatch
):
    """Above the bound the loop reads the edge list the bounded collect
    cached: each input row is evaluated once, so an unpersisted upstream
    plan (LSH and verification) does not run a second time."""
    seen = spark.sparkContext.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    traced = F.udf(tick, "long").asNondeterministic()
    rows = _CC_CASES["chain"]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long").withColumn(
        "id_a", traced("id_a")
    )
    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 2)
    got = {r.node: r.component
           for r in dedup.connected_components(pairs).collect()}
    assert got == _cc_map(spark, rows)
    assert seen.value == len(rows)


def test_cluster_and_keep_singletons_survive(spark, docs):
    pairs = dedup.minhash_lsh_dedup(docs, threshold=0.5, n=2).select(
        "id_a", "id_b"
    )
    out = dedup.cluster_and_keep(docs, pairs).cache()
    assert out.count() == docs.count()
    # exactly one keeper per cluster, and it is the min doc_id
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_keep").cast("int")).alias("keepers"),
        F.min("doc_id").alias("min_id"),
    )
    assert per_cluster.filter("keepers <> 1").count() == 0
    assert out.filter("is_keep AND doc_id <> cluster_id").count() == 0
    # paired docs share a cluster with their partner
    first = pairs.first()
    ca, cb = [
        out.filter(F.col("doc_id") == v).first().cluster_id
        for v in (first.id_a, first.id_b)
    ]
    assert ca == cb
    out.unpersist()


def test_cluster_and_keep_phantom_pair_ids(spark):
    """Edges referencing ids absent from docs (stale pair list) must not
    wipe the cluster: the keeper is the min id among PRESENT docs."""
    docs2 = spark.createDataFrame([(10,), (11,), (12,)], ["doc_id"])
    # phantom doc 1 is the component minimum but absent from docs
    pairs = spark.createDataFrame([(1, 10), (10, 11)], ["id_a", "id_b"])
    out = {r.doc_id: (r.cluster_id, r.is_keep)
           for r in dedup.cluster_and_keep(docs2, pairs).collect()}
    assert out[10] == (1, True)   # min PRESENT doc keeps
    assert out[11] == (1, False)
    assert out[12] == (12, True)  # singleton untouched


def test_corpus_mix_validation(spark, docs):
    from photon_ml_spark.operators.sampling import corpus_mix

    with pytest.raises(ValueError, match="must be > 0"):
        corpus_mix(docs, "source", {"src0": 0.0}, uid_col="doc_id")
    with pytest.raises(ValueError, match="zero rows"):
        corpus_mix(
            docs, "source", {"src0": 0.5, "no_such_source": 0.5},
            uid_col="doc_id",
        )


def test_sparse_dot_literal_cap():
    from photon_ml_spark.functions.vectors import (
        MAX_LITERAL_COEFFICIENTS,
        sparse_dot_literal,
    )

    with pytest.raises(ValueError, match="score_by_join"):
        sparse_dot_literal(
            F.col("i"), F.col("v"), [0.0] * (MAX_LITERAL_COEFFICIENTS + 1)
        )


def test_contaminated_docs_semantics(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now"),
            (3, "quick brown fox appears again quick brown fox"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high"),
         (101, "another eval doc with quick brown fox inside")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.contaminated_docs(train, ev, n=3).collect()}
    # doc 1 shares 'the quick brown','quick brown fox','brown fox jumps'
    assert out[1].n_shared_ngrams == 3 and out[1].n_eval_docs == 2
    assert 2 not in out  # clean doc absent
    assert out[3].n_shared_ngrams == 1  # only 'quick brown fox'


def test_semantic_dedup_matches_unblocked_clusters(emb):
    """Cell blocking must agree with unblocked clustering restricted to
    same-cell pairs; every input row comes back exactly once with one
    keeper per cluster."""
    from photon_ml_spark.operators.similarity import (
        alternating_patterns,
        cosine_neardup_pairs,
        hyperplane_cell,
        semantic_dedup,
    )

    pats = alternating_patterns(64, 2)
    out = semantic_dedup(emb, 0.4, pats, vec_col="qe").cache()
    assert out.count() == emb.count()
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_keep").cast("int")).alias("keepers"),
        F.min("vec_id").alias("min_id"),
    )
    assert per_cluster.filter("keepers <> 1").count() == 0
    assert out.filter("is_keep AND vec_id <> cluster_id").count() == 0
    # blocked pair set == unblocked pair set restricted to same cell
    cells = emb.withColumn("__cell", hyperplane_cell(F.col("qe"), pats))
    brute = cosine_neardup_pairs(emb, 0.4, vec_col="qe")
    cmap = {r.vec_id: r["__cell"] for r in cells.select("vec_id", "__cell").collect()}
    brute_same_cell = {
        (r.id_a, r.id_b) for r in brute.collect() if cmap[r.id_a] == cmap[r.id_b]
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(
            cells, 0.4, block_col="__cell", vec_col="qe"
        ).collect()
    }
    assert blocked == brute_same_cell
    out.unpersist()


def test_unigram_perplexity_ranks_outliers(spark):
    from photon_ml_spark.operators.text import unigram_perplexity

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 5) for i in range(20)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, "the cat sat on the mat"),
         (101, "zqx vbn wkj plm qrs ttv")],  # all unseen tokens
        "doc_id long, text string",
    )
    out = {r.doc_id: r.ppl for r in unigram_perplexity(probe, lm_df=ref).collect()}
    assert out[101] > out[100] * 3  # out-of-distribution doc scores much higher
    # self-perplexity default: uniform corpus -> every doc scores the same
    self_ppl = {r.ppl for r in unigram_perplexity(ref).collect()}
    assert len(self_ppl) == 1


def test_chunk_documents_windows(spark):
    from photon_ml_spark.operators.text import chunk_documents

    docs2 = spark.createDataFrame(
        [(1, " ".join(f"t{i:03d}" for i in range(25))),  # 25 tokens
         (2, "a b c"),                                    # single short chunk
         (3, "")],                                        # no chunks
        "doc_id long, text string",
    )
    out = chunk_documents(docs2, max_tokens=10, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: stride 8 -> chunks at 0,8,16 cover 25 tokens; last is short
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_tokens for r in c1] == [10, 10, 9]
    assert c1[0].chunk_text.split()[-2:] == c1[1].chunk_text.split()[:2]  # overlap
    assert c1[2].chunk_text.split()[-1] == "t024"  # full coverage
    assert [r.chunk_tokens for r in by_doc[2]] == [3]
    assert 3 not in by_doc
    with pytest.raises(ValueError):
        chunk_documents(docs2, max_tokens=5, overlap=5)


@pytest.mark.parametrize("max_tokens,overlap", [(10, 0), (10, 2), (7, 6), (64, 8)])
def test_chunk_documents_invariants_grid(spark, max_tokens, overlap):
    """Frame-wide invariants across doc lengths 0..3x window: every
    chunk fits the window, every non-final chunk is full, stride
    arithmetic reconstructs exact coverage of every token."""
    from photon_ml_spark.operators.text import chunk_documents

    docs2 = spark.createDataFrame(
        [(n, " ".join(f"t{n:03d}x{i:03d}" for i in range(n)))
         for n in range(0, 3 * max_tokens + 2)],
        "doc_id long, text string",
    )
    from pyspark.sql import Window

    stride = max_tokens - overlap
    out = chunk_documents(docs2, max_tokens=max_tokens, overlap=overlap)
    flagged = out.withColumn(
        "last", F.max("chunk_id").over(Window.partitionBy("doc_id"))
    )
    agg = (
        flagged.groupBy("doc_id").agg(
            F.max("chunk_tokens").alias("max_len"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_id").alias("last_id"),
            # non-final chunks must be exactly max_tokens
            F.min(
                F.when(
                    F.col("chunk_id") < F.col("last"), F.col("chunk_tokens")
                )
            ).alias("min_nonfinal"),
        )
    ).collect()
    got = {r.doc_id: r for r in agg}
    for n in range(0, 3 * max_tokens + 2):
        if n == 0:
            assert n not in got
            continue
        r = got[n]
        assert r.max_len <= max_tokens
        expected_chunks = 1 if n <= max_tokens else 1 + -(-(n - max_tokens) // stride)
        assert r.n_chunks == expected_chunks, (n, r.n_chunks, expected_chunks)
        assert r.last_id == expected_chunks - 1
        if expected_chunks > 1:
            assert r.min_nonfinal == max_tokens
        # the final chunk ends exactly at token n: last start + its length == n
        # (slice arithmetic: start = last_id*stride, len = n - last_id*stride)
        assert (expected_chunks - 1) * stride + (
            n - (expected_chunks - 1) * stride
        ) == n


def test_leakage_safe_split_invariants(docs):
    from photon_ml_spark.operators.sampling import leakage_safe_split

    pairs = dedup.minhash_lsh_dedup(docs, threshold=0.5, n=2).select(
        "id_a", "id_b"
    )
    out = leakage_safe_split(docs, pairs, test_frac=0.3).cache()
    assert out.count() == docs.count()
    # every cluster lives entirely on one side
    sides = out.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_sides")
    )
    assert sides.filter("n_sides > 1").count() == 0
    # both sides populated and paired docs stay together
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("train", 0) > 0 and counts.get("test", 0) > 0
    p = pairs.first()
    sa, sb = [out.filter(F.col("doc_id") == v).first().split
              for v in (p.id_a, p.id_b)]
    assert sa == sb
    with pytest.raises(ValueError):
        leakage_safe_split(docs, pairs, test_frac=1.5)
    out.unpersist()


def test_corpus_mix_hits_target_shares(spark, docs):
    from photon_ml_spark.operators.sampling import corpus_mix

    shares = {f"src{i}": (i % 4 + 1) / 50.0 for i in range(20)}
    out = corpus_mix(
        docs, "source", shares, uid_col="doc_id", rate_col="rate"
    ).cache()
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # binding groups (max share) keep every row (rate exactly 1)
    assert out.filter("rate = 1.0").count() > 0
    for i in (3, 7, 11, 15, 19):
        assert got[f"src{i}"] == 25
    # achieved mix tracks the target within Bernoulli noise
    total = sum(got.values())
    for src, share in shares.items():
        assert abs(got.get(src, 0) / total - share) < 0.05
    # groups absent from the target are dropped entirely
    out2 = corpus_mix(docs, "source", {"src0": 1.0}, uid_col="doc_id")
    assert out2.select("source").distinct().collect() == [("src0",)]
    assert out2.count() == 25
    out.unpersist()


def test_oversample_to_shares_repeats_and_caps(spark, docs):
    from photon_ml_spark.operators.sampling import oversample_to_shares

    shares = {f"src{i}": (i % 4 + 1) / 50.0 for i in range(20)}
    out = oversample_to_shares(
        docs, "source", shares, max_epochs=3.0, uid_col="doc_id",
        rate_col="rate",
    ).cache()
    # binding groups (max share) run exactly max_epochs epochs: every
    # row repeated 3x, copy_idx 0..2
    binding = out.filter(F.col("source") == "src3")
    assert binding.count() == 75
    assert binding.agg(F.max("copy_idx")).first()[0] == 2
    # (doc_id, copy_idx) is a key — no accidental duplicate explosion
    n = out.count()
    assert out.select("doc_id", "copy_idx").distinct().count() == n
    # rates never exceed the epoch cap; achieved mix tracks the target
    assert out.filter(F.col("rate") > 3.0).count() == 0
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(got.values())
    for src, share in shares.items():
        assert abs(got.get(src, 0) / total - share) < 0.05
    out.unpersist()
    with pytest.raises(ValueError):
        oversample_to_shares(docs, "source", shares, max_epochs=0.5)
    with pytest.raises(ValueError):
        oversample_to_shares(docs, "source", {"src0": -1.0})


def test_dsir_select_prefers_target_like_docs(spark):
    from photon_ml_spark.operators.sampling import dsir_select

    rows = (
        # target domain sample: zz/yy vocabulary
        [(i, "zz yy zz yy zz", "tgt") for i in range(5)]
        # raw pool: 10 target-like docs, 40 off-domain docs
        + [(100 + i, "zz yy zz aa", "raw") for i in range(10)]
        + [(200 + i, "aa bb cc dd aa bb", "raw") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    out = dsir_select(
        df, F.col("kind") == "tgt", k=10, temperature=0.05,
    ).cache()
    got = [r.doc_id for r in out.collect()]
    assert len(got) == 10
    # low temperature → Gumbel noise negligible: exactly the
    # target-like raw docs selected, never the target rows themselves
    assert set(got) == {100 + i for i in range(10)}
    assert sorted(r.rank for r in out.collect()) == list(range(1, 11))
    # deterministic replay
    again = [r.doc_id for r in dsir_select(
        df, F.col("kind") == "tgt", k=10, temperature=0.05
    ).collect()]
    assert got == again
    out.unpersist()
    with pytest.raises(ValueError):
        dsir_select(df, F.col("kind") == "tgt", k=0)
    with pytest.raises(ValueError):
        dsir_select(df, F.col("kind") == "tgt", k=5, temperature=0.0)


def test_dsir_hashed_buckets_bound_the_lm_table(spark, docs):
    """n_buckets (the paper's hashed-ngram device) must bound the
    log-ratio relation regardless of vocabulary size."""
    from photon_ml_spark.operators.sampling import dsir_select

    out = dsir_select(
        docs, F.col("lang") == "zh", k=15, n_buckets=16,
    )
    assert out.count() == 15
    assert out.filter(F.col("n_tokens") > 0).count() == 15


def test_ngram_novelty_extremes(spark):
    from photon_ml_spark.operators.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (0, "a b c d e"),          # unique content
            (1, "x y z w"),            # duplicated below
            (2, "x y z w"),
            (3, "q r"),                # < n tokens: no trigrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(df, n=3).collect()}
    assert out[0].novelty == 1.0 and out[0].n_ngrams == 3
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert 3 not in out  # undefined for docs shorter than n tokens


def test_bpe_train_matches_reference_example(spark):
    """The Sennrich et al. running example: merges must come out in the
    canonical order (es, est, lo, low, ...) with exact pair counts."""
    from photon_ml_spark.operators.text import bpe_train

    text = "low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    m = [tuple(r) for r in bpe_train(df, n_merges=4, min_pair_count=2).collect()]
    assert m == [
        (0, "e", "s", "es", 9),
        (1, "es", "t", "est", 9),
        (2, "l", "o", "lo", 7),
        (3, "lo", "w", "low", 7),
    ]
    with pytest.raises(ValueError):
        bpe_train(df, n_merges=0)


def test_bpe_encode_roundtrip_and_adjacent_merges(spark):
    """Concatenating a word's BPE symbols must reproduce the word, and
    runs of the merged pair must merge left-to-right non-overlapping
    (aaaa -> [aa, aa]; aaa -> [aa, a])."""
    from photon_ml_spark.operators.text import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(0, "aaaa aaa aa banana bandana")], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=3, min_pair_count=2).collect()
    assert (merges[0].left, merges[0].right) == ("a", "a")
    enc = bpe_encode(df, merges).first().bpe_tokens
    assert "".join(enc) == "aaaaaaaaabananabandana"
    words = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaa")], "doc_id long, text string"
    )
    by_id = {
        r.doc_id: r.bpe_tokens for r in bpe_encode(words, [("a", "a")]).collect()
    }
    assert by_id[1] == ["aa", "aa"]
    assert by_id[2] == ["aa", "a"]


def test_bpe_early_stop_below_min_pair_count(spark):
    from photon_ml_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(0, "ab cd ef")], "doc_id long, text string"
    )
    m = bpe_train(df, n_merges=5, min_pair_count=2).collect()
    assert m == []  # every pair occurs once


def test_bpe_train_deep_merge_budget(spark):
    """A deep merge budget must yield the complete greedy sequence.
    One word of 36 distinct characters (appearing twice) has every
    pair at count 2, so 35 merges fold it into a single symbol — any
    dropped or mis-ordered merge breaks the final encoding."""
    import string

    from photon_ml_spark.operators.text import bpe_encode, bpe_train

    alphabet = string.ascii_lowercase + string.digits  # 36 distinct chars
    df = spark.createDataFrame(
        [(0, f"{alphabet} {alphabet}")], "doc_id long, text string"
    )
    rows = bpe_train(df, n_merges=35, min_pair_count=2).collect()
    assert len(rows) == 35
    assert all(r.pair_count == 2 for r in rows)
    # tie-break is (count desc, left, right): '0' < 'a', so digits fold first
    assert (rows[0].left, rows[0].right, rows[0].merged) == ("0", "1", "01")
    enc = bpe_encode(df, rows).first().bpe_tokens
    assert enc == [alphabet, alphabet]


def test_bpe_train_production_merge_budget_is_fast(spark):
    """The scale-honesty bar (round-3 verdict): the merge loop must not
    pay one Spark job per merge. 1.5k merges must finish in seconds —
    only the word-frequency groupBy touches the cluster; the loop
    itself is driver-local. (The sf0.001 synthetic corpus has too few
    distinct words to support a deep table, so build a 4k-word
    vocabulary with every word duplicated — every pair reaches
    min_pair_count, so the table folds all the way down.)"""
    import itertools
    import time

    from photon_ml_spark.operators.text import bpe_encode_words, bpe_train

    vocab = [
        "".join(p)
        for p in itertools.islice(
            itertools.product("abcdefghij", repeat=5), 4000
        )
    ]
    df = spark.createDataFrame(
        [(i, f"{w} {w}") for i, w in enumerate(vocab)],
        "doc_id long, text string",
    )
    t0 = time.monotonic()
    merges = bpe_train(df, n_merges=1500, min_pair_count=2).collect()
    elapsed = time.monotonic() - t0
    assert len(merges) == 1500  # the vocabulary genuinely supports it
    assert elapsed < 30, f"1.5k merges took {elapsed:.1f}s"
    # counts are non-increasing (greedy argmax invariant)
    counts = [r.pair_count for r in merges]
    assert counts == sorted(counts, reverse=True)
    # round-trip through the large-merge-list (mapInPandas) encoder
    words = spark.createDataFrame(
        [("internationalization",), ("the",)], "word string"
    )
    enc = {
        r.word: r.syms
        for r in bpe_encode_words(words, merges).collect()
    }
    assert "".join(enc["internationalization"]) == "internationalization"
    assert "".join(enc["the"]) == "the"


def test_bpe_encode_words_regex_and_pandas_paths_agree(spark, docs):
    """The two physical encode strategies (Catalyst regex chain below
    BPE_ENCODE_PLAN_CAP, Arrow rank-greedy above) must produce
    identical segmentations for the same merge list."""
    from photon_ml_spark.operators import text as text_ops
    from photon_ml_spark.operators.text import bpe_encode_words, bpe_train

    merges = bpe_train(docs.limit(200), n_merges=40, min_pair_count=2).collect()
    assert len(merges) == 40
    words = (
        docs.limit(50)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .distinct()
    )
    a = {
        r.word: list(r.syms) for r in bpe_encode_words(words, merges).collect()
    }
    orig_cap = text_ops.BPE_ENCODE_PLAN_CAP
    text_ops.BPE_ENCODE_PLAN_CAP = 1  # force the pandas path
    try:
        b = {
            r.word: list(r.syms)
            for r in bpe_encode_words(words, merges).collect()
        }
    finally:
        text_ops.BPE_ENCODE_PLAN_CAP = orig_cap
    assert a == b and len(a) > 10


def test_bpe_train_vocab_cap_guard(spark, docs):
    from photon_ml_spark.operators.text import bpe_train

    with pytest.raises(ValueError, match="max_vocab_rows"):
        bpe_train(docs, n_merges=2, max_vocab_rows=10)


# ------------------------------------------------------- substring dedup


def test_substring_rolling_matches_string(docs):
    """The rolling double-hash scale path must produce byte-identical
    spans to the exact string-window strategy."""
    a = sorted(
        tuple(r)
        for r in dedup.duplicated_window_spans(docs, n=10).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.duplicated_window_spans(
            docs, n=10, strategy="rolling"
        ).collect()
    )
    assert a and a == b


def test_substring_spans_are_maximal_and_duplicated(docs, spark):
    """Every reported span is (1) within doc bounds, (2) at least n
    tokens long, and (3) non-overlapping / non-adjacent per doc."""
    n = 10
    spans = dedup.duplicated_window_spans(docs, n=n).collect()
    lens = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split(F.lower("text"), r"\s+")).alias("n")
        ).collect()
    }
    per_doc: dict[int, list[tuple[int, int]]] = {}
    for r in spans:
        assert r.span_end - r.span_start >= n
        assert 0 <= r.span_start and r.span_end <= lens[r.doc_id] + 1
        per_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for doc_id, ss in per_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1, f"doc {doc_id}: spans {s1,e1} and {s2,e2} not merged"


def test_strip_duplicated_spans_removes_all_duplication(docs, spark):
    """Self-check: after stripping, re-detection finds zero duplicated
    windows (the Lee et al. fixed point) and untouched docs round-trip."""
    spans = dedup.duplicated_window_spans(docs, n=10)
    clean = dedup.strip_duplicated_spans(docs, spans)
    again = dedup.duplicated_window_spans(
        clean.select("doc_id", F.col("clean_text").alias("text")), n=10
    )
    assert again.count() == 0
    touched = {r.doc_id for r in spans.select("doc_id").distinct().collect()}
    untouched_bad = clean.filter(
        ~F.col("doc_id").isin(list(touched)) & (F.col("n_removed_tokens") != 0)
    )
    assert untouched_bad.count() == 0


def test_substring_short_docs_excluded(spark):
    """Docs shorter than n produce no windows and never crash."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")], ["doc_id", "text"]
    )
    assert dedup.duplicated_window_spans(df, n=5).count() == 0
    out = dedup.duplicated_window_spans(df, n=2).collect()
    # "a b c" duplicated across docs 1 and 2 -> one full-doc span each
    assert sorted((r.doc_id, r.span_start, r.span_end) for r in out) == [
        (1, 0, 3),
        (2, 0, 3),
    ]


# ------------------------------------------------------- global shuffle


def test_write_training_shards_roundtrip(spark, tmp_path):
    """One sorted file per shard dir; union of shards == input; rows
    within each file follow the (ord, uid) permutation order."""
    import glob

    from photon_ml_spark.operators.sampling import (
        shuffle_assignment,
        write_training_shards,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "uid")
    path = str(tmp_path / "shards")
    write_training_shards(df, path, n_shards=8, uid_col="uid", seed=17)

    expected = {
        (r.uid, r.shard, r.ord)
        for r in shuffle_assignment(df, "uid", 8, 17).collect()
    }
    back = spark.read.parquet(path)
    assert {
        (r.uid, r.shard, r.ord) for r in back.collect()
    } == expected

    sizes = []
    for k in range(8):
        files = glob.glob(f"{path}/shard={k}/*.parquet")
        assert len(files) == 1, f"shard {k}: {len(files)} files"
        pdf = spark.read.parquet(files[0]).toPandas()
        sizes.append(len(pdf))
        ords = list(zip(pdf["ord"], pdf["uid"]))
        assert ords == sorted(ords), f"shard {k} not in permutation order"
    # pseudo-random sharding balances within a loose tolerance
    assert min(sizes) > 0.5 * max(sizes)


def test_model_quality_filter_probe_semantics(docs, spark):
    """The distilled probe must (1) assign higher mean heuristic
    quality to kept docs than dropped ones, and (2) learn a positive
    stopword coefficient (the heuristic rewards stopword density)."""
    from photon_ml_spark.operators.text import model_quality_filter

    out = model_quality_filter(docs).cache()
    coefs = out.select("lang", "probe_coef").distinct().collect()
    assert coefs and all(r.probe_coef > 0 for r in coefs)
    grp = {
        r.is_keep: r.mq
        for r in out.groupBy("is_keep")
        .agg(F.avg(F.col("y_q")).alias("mq"))
        .collect()
    }
    assert grp[True] > grp[False]
    out.unpersist()


# --------------------------------------------------- incremental dedup


def test_collapse_exact_pairs_equal_uncollapsed(docs, spark):
    """``collapse_exact=True`` must return EXACTLY the uncollapsed
    pipeline's pairs on a corpus seeded with exact duplicates — the
    collapse is a plan transform (LSH over one representative per
    distinct shingle set), never a semantic one."""
    from photon_ml_spark.operators.dedup import minhash_lsh_dedup

    base = docs.limit(60)
    # exact duplicates: two extra copies of every third doc, fresh ids
    dups = base.filter(F.col("doc_id") % 3 == 0)
    seeded = base.unionByName(
        dups.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).unionByName(dups.withColumn("doc_id", F.col("doc_id") + 2_000_000))

    def pair_set(collapse):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in minhash_lsh_dedup(
                seeded, threshold=0.5, n=2, collapse_exact=collapse
            ).collect()
        }

    plain, collapsed = pair_set(False), pair_set(True)
    assert collapsed == plain and len(plain) > 0
    # the duplicate triples must all be present at jaccard 1.0
    for r in dups.select("doc_id").collect():
        a, b = r.doc_id + 1_000_000, r.doc_id + 2_000_000
        assert (r.doc_id, a, 1.0) in collapsed
        assert (r.doc_id, b, 1.0) in collapsed
        assert (a, b, 1.0) in collapsed


def test_collapse_exact_simhash_and_embedding(docs, emb, spark):
    """The hot-bucket guard on the OTHER two near-dup families:
    simhash pairs (hamming) and embedding cosine pairs must be
    identical with and without the exact-duplicate collapse."""
    from photon_ml_spark.operators.dedup import simhash_neardup_pairs
    from photon_ml_spark.operators.similarity import cosine_neardup_pairs

    base = docs.limit(40)
    dups = base.filter(F.col("doc_id") % 4 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    seeded = base.unionByName(dups)
    plain = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(seeded, max_hamming=3, n=2).collect()
    }
    collapsed = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(
            seeded, max_hamming=3, n=2, collapse_exact=True
        ).collect()
    }
    assert collapsed == plain and len(plain) > 0

    e = emb.limit(40)
    edup = e.filter(F.col("vec_id") % 4 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    eseeded = e.unionByName(edup)
    eplain = {
        (r.id_a, r.id_b, round(r.cosine, 6))
        for r in cosine_neardup_pairs(eseeded, 0.9, vec_col="qe").collect()
    }
    ecollapsed = {
        (r.id_a, r.id_b, round(r.cosine, 6))
        for r in cosine_neardup_pairs(
            eseeded, 0.9, vec_col="qe", collapse_exact=True
        ).collect()
    }
    assert ecollapsed == eplain and len(eplain) > 0


def test_simhash_xxhash_scale_path(docs, spark):
    """The wide-signature simhash form (bits=60, xxhash bit mixing —
    the scale path; 16-bit LCG gives only 2^4 buckets per band and
    goes quadratic): identical docs still collide at hamming 0, a
    one-token edit of a long doc stays within a small hamming ball,
    every returned pair respects max_hamming, and unrelated docs do
    NOT collide (the property the LCG form loses at width — its high
    bits are all zero, every doc agrees on wide bands)."""
    from photon_ml_spark.operators.dedup import simhash_neardup_pairs

    base = docs.limit(30)
    twin = base.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    seeded = base.unionByName(twin)
    pairs = simhash_neardup_pairs(
        seeded, max_hamming=3, n=2, bits=60, bands=4, bit_hash="xxhash"
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    for r in twin.collect():
        assert got[(r.doc_id - 1_000_000, r.doc_id)] == 0
    assert all(h <= 3 for h in got.values())
    # wide bands must DISCRIMINATE: far fewer pairs than the quadratic
    # all-pairs relation (the LCG-at-width failure mode would pair
    # everything through the degenerate zero bands)
    n = seeded.count()
    assert len(got) < n * (n - 1) // 4

    with pytest.raises(ValueError, match="bits"):
        simhash_neardup_pairs(seeded, bits=64, bit_hash="xxhash")
    with pytest.raises(ValueError, match="bit_hash"):
        simhash_neardup_pairs(seeded, bits=32, bit_hash="md5")


def test_collapse_hot_bucket_stays_linear(spark):
    """The hot-bucket guard itself: 300 exact copies of one boilerplate
    doc collapse to ONE representative before the LSH bucket self-join
    (300² candidate rows otherwise), and the linear star-edge list
    clusters identically to the quadratic expansion."""
    from photon_ml_spark.operators.dedup import (
        cluster_and_keep,
        collapse_exact_sets,
        expand_collapsed_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        neardup_cluster_edges,
        token_ids,
        _verify_jaccard_pairs,
    )

    rows = [(i, "the same boilerplate page text repeated") for i in range(300)]
    rows += [(1000 + i, f"unique document number {i} with its own words")
             for i in range(5)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    sids = token_ids(corpus, n=1).cache()
    membership, rep_sids = collapse_exact_sets(sids)
    n_reps = rep_sids.select("doc_id").distinct().count()
    assert n_reps == 6  # 1 boilerplate rep + 5 uniques
    # LSH path sees only reps — the bucket join is 6 rows, not 305
    rep_pairs = _verify_jaccard_pairs(
        lsh_candidate_pairs(
            minhash_signatures(rep_sids, "doc_id", 16), "doc_id", 16, 4
        ),
        rep_sids, "doc_id", 0.5,
    ).cache()
    assert rep_pairs.count() == 0  # no two distinct sets are near-dups
    # cluster equality: star edges vs full quadratic expansion
    star = cluster_and_keep(
        corpus, neardup_cluster_edges(rep_pairs, membership)
    )
    full = cluster_and_keep(
        corpus, expand_collapsed_pairs(rep_pairs, membership).select(
            "id_a", "id_b"
        )
    )
    s = {(r.doc_id, r.cluster_id, r.is_keep) for r in star.collect()}
    f = {(r.doc_id, r.cluster_id, r.is_keep) for r in full.collect()}
    assert s == f
    # one 300-member cluster keeping doc 0, five singletons
    boiler = [r for r in s if r[1] == 0]
    assert len(boiler) == 300 and sum(1 for r in boiler if r[2]) == 1
    sids.unpersist()
    rep_pairs.unpersist()


def _row_join_jaccard(cand, sids, threshold):
    """Reference verifier: one (id_a, id_b, sid) row per shared shingle,
    counted per pair and divided by the union of the two set sizes."""
    sizes = sids.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sids.select(F.col("doc_id").alias("id_a"), "sid")
    b = sids.select(F.col("doc_id").alias("id_b"), "sid")
    return (
        cand.join(a, "id_a").join(b, ["id_b", "sid"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("n").alias("size_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n").alias("size_b")), "id_b")
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


def _pair_rows(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


@pytest.mark.parametrize("threshold", [0.0, 0.5, 0.8])
@scope()
def test_sid_list_verifier_matches_row_join(docs, spark, threshold):
    """The per-document sid-array verifier returns exactly the rows of a
    (id, sid) row join: identical sets, disjoint sets (never emitted,
    even at threshold 0), a candidate id absent from ``sids`` and the
    large hashed sids of the corpus, on its LSH candidates."""
    from photon_ml_spark.operators.dedup import (
        _verify_jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        token_ids_hashed,
    )

    sets = {1: [1, 2, 3, 4], 2: [4, 3, 2, 1], 3: [1, 2, 3, 9], 4: [50, 51],
            5: [60], 6: [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]}
    hand = spark.createDataFrame(
        [(d, s) for d, ss in sets.items() for s in ss], "doc_id long, sid long"
    )
    ids = list(sets) + [99]  # 99 has no shingle rows
    hand_cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    hashed = persist(token_ids_hashed(docs, n=2))
    corpus_cand = lsh_candidate_pairs(
        minhash_signatures(hashed, "doc_id", 16), "doc_id", 16, 4
    ).unionByName(
        spark.createDataFrame([(0, 10**9)], "id_a long, id_b long")
    )
    for cand, sids in ((hand_cand, hand), (corpus_cand, hashed)):
        got = _pair_rows(_verify_jaccard_pairs(cand, sids, "doc_id", threshold))
        want = _pair_rows(_row_join_jaccard(cand, sids, threshold))
        assert got == want
        assert got, "each case should verify some pairs"


@scope()
def test_verifier_joins_no_sid_key(docs, spark):
    """Verification meets a candidate pair's two documents on their ids
    only: no join of the generic or the collapsed near-dup plan is keyed
    on a shingle id."""
    import re

    from photon_ml_spark.operators.dedup import (
        _verify_jaccard_pairs,
        lsh_candidate_pairs,
        minhash_lsh_collapsed,
        minhash_signatures,
        token_ids,
    )

    sids = token_ids(docs, n=2)
    cand = lsh_candidate_pairs(
        minhash_signatures(sids, "doc_id", 16), "doc_id", 16, 4
    )
    generic = _verify_jaccard_pairs(cand, sids, "doc_id", 0.5)
    collapsed, _ = minhash_lsh_collapsed(docs, threshold=0.5, n=2)
    for plan in (generic, collapsed):
        tree = plan._jdf.queryExecution().optimizedPlan().treeString()
        joins = [ln for ln in tree.splitlines() if "Join " in ln]
        assert joins
        assert not [ln for ln in joins if re.search(r"\bsid#", ln)]


@scope()
def test_incremental_neardup_groups_only_candidate_ids(docs, spark, tmp_path):
    """The increment groups the sid rows of its candidates' documents
    only: the aggregate that builds the sid arrays reads the stored
    index through a semi-join on the candidate ids, never whole."""
    from photon_ml_spark.operators.dedup import (
        incremental_neardup,
        save_minhash_index,
    )

    idx = str(tmp_path / "idx")
    save_minhash_index(docs.filter("doc_id % 3 != 0"), idx, n=2)
    pairs = incremental_neardup(
        docs.filter("doc_id % 3 = 0"), idx, threshold=0.5, n=2
    )
    tree = pairs._jdf.queryExecution().optimizedPlan().treeString()
    lines = tree.splitlines()

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    def subtree(top):
        for ln in lines[top + 1:]:
            if depth(ln) <= depth(lines[top]):
                break
            yield ln

    # one aggregate per side of the pair (id_a, id_b)
    aggs = [i for i, ln in enumerate(lines)
            if "Aggregate" in ln and "collect_list(sid" in ln]
    assert aggs
    for top in aggs:
        assert any("Join LeftSemi" in ln for ln in subtree(top))
    assert pairs.count() > 0


def test_incremental_collapse_matches_uncollapsed(spark, tmp_path):
    """collapse_exact on the incremental flow: a boilerplate-heavy new
    batch must produce the IDENTICAL pair relation — new-new pairs
    within duplicate groups at jaccard 1.0, new-old pairs passing
    through the expansion with the indexed side as singletons."""
    from photon_ml_spark.operators.dedup import (
        incremental_neardup,
        save_minhash_index,
    )

    old = spark.createDataFrame(
        [(1, "the shared boilerplate page body text"),
         (2, "an indexed document about something else entirely")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "inc_idx")
    save_minhash_index(old, idx, n=1)
    new_rows = [(100 + i, "the shared boilerplate page body text")
                for i in range(20)]
    new_rows.append((200, "a genuinely novel new document with fresh words"))
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    def pair_set(collapse):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in incremental_neardup(
                new, idx, threshold=0.5, n=1, collapse_exact=collapse
            ).collect()
        }

    plain, collapsed = pair_set(False), pair_set(True)
    assert collapsed == plain
    # every boilerplate copy pairs with the indexed original (jac 1.0)
    for i in range(20):
        assert (1, 100 + i, 1.0) in collapsed
    # and with each other
    assert (100, 101, 1.0) in collapsed
    # id-collision guard still sees NON-representative new ids
    clash_rows = [(1, "the shared boilerplate page body text"),
                  (0, "the shared boilerplate page body text")]
    clash = spark.createDataFrame(clash_rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        incremental_neardup(
            clash, idx, threshold=0.5, n=1, collapse_exact=True
        ).collect()


def test_incremental_neardup_matches_batch(docs, spark, tmp_path):
    """Index 2/3 of the corpus, run the last third as an increment: the
    increment's pairs must equal the full-batch pipeline's pairs
    restricted to those involving a new doc (same hashed shingle ids,
    same verification arithmetic)."""
    from photon_ml_spark.operators.dedup import (
        drop_new_duplicates,
        incremental_neardup,
        minhash_lsh_dedup,
        save_minhash_index,
        token_ids_hashed,
    )

    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path / "mh_index")
    save_minhash_index(old, idx, n=2)

    inc = incremental_neardup(new, idx, threshold=0.5, n=2)
    got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in inc.collect()}

    full = minhash_lsh_dedup(
        docs, threshold=0.5, n=2, doc_sids=token_ids_hashed(docs, n=2).cache()
    )
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got == want and len(got) > 0

    kept = drop_new_duplicates(new, inc, old.select("doc_id"))
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # every new doc paired with an indexed doc is gone
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    for ia, ib, _ in got:
        if ia in old_ids:
            assert ib not in kept_ids
        elif ib in old_ids:
            assert ia not in kept_ids
        else:  # new-new: min id survives unless itself dropped via old
            assert ib not in kept_ids
    assert len(kept_ids) > 0


def test_incremental_neardup_rejects_id_overlap(docs, spark, tmp_path):
    from photon_ml_spark.operators.dedup import (
        incremental_neardup,
        save_minhash_index,
    )

    idx = str(tmp_path / "mh_index2")
    save_minhash_index(docs.limit(50), idx, n=2)
    with pytest.raises(ValueError, match="overlap"):
        incremental_neardup(docs.limit(10), idx, threshold=0.5, n=2)


def test_incremental_neardup_rejects_parameter_mismatch(docs, spark, tmp_path):
    """An increment shingling at a different n than the index was built
    with finds near-zero duplicates while reporting success — the
    stored parameter manifest must make that a loud error."""
    from photon_ml_spark.operators.dedup import (
        incremental_neardup,
        save_minhash_index,
    )

    idx = str(tmp_path / "mh_index3")
    save_minhash_index(docs.filter(F.col("doc_id") % 3 != 0), idx, n=2)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    with pytest.raises(ValueError, match="parameter mismatch"):
        incremental_neardup(new, idx, threshold=0.5, n=1)
    with pytest.raises(ValueError, match="parameter mismatch"):
        incremental_neardup(new, idx, threshold=0.5, n=2, num_hashes=8)


def test_ivf_index_full_probe_equals_brute_and_pruned_probe_recall(
    spark, emb, tmp_path
):
    """Persisted IVF index: probing every cell must reproduce exact
    brute-force top-k (the index is lossless, only the probe is lossy);
    single-probe recall on KMeans cells is measured; the scan should
    only touch the probed cells' partitions (partition-pruned layout)."""
    from photon_ml_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_from_index,
        save_ivf_index,
    )

    idx = str(tmp_path / "ivf_index")
    corpus = emb.select("vec_id", F.col("qe").alias("embedding"))
    save_ivf_index(corpus, idx, k=4)
    queries = corpus.filter(F.col("vec_id") % 25 == 0)

    brute = {
        (r.query_id, r.vec_id, round(r.cosine, 9))
        for r in cosine_topk(corpus, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.vec_id, round(r.cosine, 9))
        for r in ivf_topk_from_index(
            spark, idx, queries, k=5, n_probe=4
        ).collect()
    }
    assert full == brute

    one = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_from_index(
            spark, idx, queries, k=5, n_probe=1
        ).collect()
    }
    bp = {(q, v) for q, v, _ in brute}
    recall = len(bp & one) / len(bp)
    assert 0.3 <= recall <= 1.0

    # layout: the vector table is hive-partitioned by cell
    import glob as _glob

    assert _glob.glob(f"{idx}/vectors/cell=*")


def test_ivf_index_guards_huge_query_broadcast(spark):
    """>1e6 queries would be an unbounded broadcast into the candidate
    join — refused up front (mirror of the BLAS path's cap), before the
    index is even opened."""
    import pytest as _pt

    from photon_ml_spark.operators.similarity import ivf_topk_from_index

    huge = spark.range(1_000_001).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pt.raises(ValueError, match="batch .*queries"):
        ivf_topk_from_index(
            spark, "/nonexistent/ivf_index", huge, k=5, n_probe=1
        )


# ------------------------------------------------ unigram-LM tokenizer


def _brute_best_segmentation(word, scores, max_piece):
    """Reference enumeration: all 2^(L-1) split masks, keep valid
    segmentations, pick (score DESC, seg ASC) — the oracle's ordering."""
    best = None
    L = len(word)
    for mask in range(1 << max(0, L - 1)):
        cuts = [0] + [i for i in range(1, L) if mask >> (i - 1) & 1] + [L]
        pieces = [word[a:b] for a, b in zip(cuts, cuts[1:])]
        if any(len(p) > max_piece or p not in scores for p in pieces):
            continue
        sc = sum(scores[p] for p in pieces)
        seg = " ".join(pieces)
        if best is None or sc > best[0] or (sc == best[0] and seg < best[1]):
            best = (sc, seg)
    return best


def test_viterbi_matches_enumeration():
    import itertools
    import random

    from photon_ml_spark.operators.text import _viterbi_segment

    rng = random.Random(7)
    alphabet = "abc"
    pieces = [
        "".join(p)
        for n in (1, 2, 3)
        for p in itertools.product(alphabet, repeat=n)
    ]
    scores = {p: rng.randint(-40, -1) for p in pieces}
    # drop some pieces so "no segmentation" paths appear
    for p in ("b", "ca", "abc"):
        scores.pop(p, None)
    for _ in range(200):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        got_pieces, got_sc = _viterbi_segment(w, scores, 3)
        want = _brute_best_segmentation(w, scores, 3)
        if want is None:
            assert got_pieces is None
        else:
            assert got_sc == want[0]
            assert " ".join(got_pieces) == want[1]


def test_unigram_train_properties(spark):
    from photon_ml_spark.operators.text import (
        _lattice_expected_counts,
        unigram_encode,
        unigram_train,
    )

    text = ("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3) * 3
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    vocab_df = unigram_train(df, vocab_size=24, max_piece=4, seed_size=64)
    vocab = {r.piece: r.logprob for r in vocab_df.collect()}
    # full char coverage survives pruning; target size respected
    assert set("lowernwstid") <= {p for p in vocab if len(p) == 1}
    assert len(vocab) <= 24 + 0  # pruned to target (chars can exceed only
    # if alphabet itself is bigger than vocab_size, which it is not here)
    # probabilities normalize-ish (smoothed): sum exp(logp) ~ 1
    import math as m

    assert abs(sum(m.exp(lp) for lp in vocab.values()) - 1.0) < 0.05
    # every training word is encodable and round-trips
    enc = unigram_encode(df, vocab).first().unigram_tokens
    assert "".join(enc) == "".join(text.split())
    # EM improved (or kept) corpus likelihood vs the seed-count model:
    # verify by recomputing marginal loglik under the trained model — it
    # must be finite for all words (full coverage)
    for w in ("low", "lower", "newest", "widest"):
        _, ll = _lattice_expected_counts(w, vocab, 4, 1.0)
        assert ll > float("-inf")


def test_unigram_encode_words_distributed_matches_local(spark, docs):
    from photon_ml_spark.operators.text import (
        _viterbi_segment,
        unigram_encode_words,
    )

    scores = {c: -10 for c in "abcdefghijklmnopqrstuvwxyz0123456789"}
    scores.update({"th": -3, "he": -4, "in": -4, "er": -5, "the": -2,
                   "ing": -3, "es": -5, "re": -6, "on": -6, "st": -7})
    words = (
        docs.limit(80)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") > 0))
        .distinct()
    )
    got = {
        r.word: (tuple(r.syms) if r.syms is not None else None, r.seg_score)
        for r in unigram_encode_words(words, scores).collect()
    }
    assert len(got) > 20
    for w, (syms, sc) in got.items():
        pieces, score = _viterbi_segment(w, scores, 3)
        assert syms == (tuple(pieces) if pieces else None)
        assert sc == score
        if syms:
            assert "".join(syms) == w


def test_tfidf_top_terms_semantics(spark):
    """Terms appearing in every document have idf = ln(1) = 0 and can
    never outrank a distinctive term; per-doc rank respects the
    (score desc, term asc) tie-break; tf weights repeated terms."""
    from photon_ml_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common apple apple zebra"),
            (2, "common banana"),
            (3, "common cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.rank): (r.term, r.tfidf)
        for r in tfidf_top_terms(df, k=2).collect()
    }
    import math

    ln3 = round(1 * math.log(3.0 / 1.0), 6)
    assert out[(1, 1)][0] in ("apple",)  # tf=2 beats zebra tf=1
    assert out[(1, 1)][1] == round(2 * math.log(3.0), 6)
    assert out[(1, 2)] == ("zebra", ln3)
    assert out[(3, 1)] == ("cherry", round(3 * math.log(3.0), 6))
    # 'common' (df=3 -> idf=0) ranks below any distinctive term and
    # ties at 0.0 break lexicographically
    assert out[(2, 1)][0] == "banana"
    assert out[(2, 2)] == ("common", 0.0)


def test_bigram_perplexity_semantics(spark):
    """An in-distribution doc (repeating the corpus's dominant bigram
    chain) must score lower perplexity than a doc of rare transitions;
    lam=1 degenerates to pure bigram MLE: a doc that IS the corpus's
    only chain has p=1 per transition -> ppl exactly 1."""
    from photon_ml_spark.operators.text import bigram_perplexity

    lm = spark.createDataFrame(
        [(i, "a b c a b c a b c") for i in range(5)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, "a b c a b"), (101, "c b a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_perplexity(probe, lam=0.7, lm_df=lm).collect()}
    assert out[100].n_bigrams == 4 and out[101].n_bigrams == 2
    assert out[100].ppl < out[101].ppl
    # pure-MLE lam=1: a doc with transitions the LM has NEVER seen must
    # score ppl = +inf, NOT silently drop the ln(0) terms and win a
    # perfect score (the review-found NULL-sum bug)
    import math

    oov = spark.createDataFrame(
        [(0, "a b z q a b")], "doc_id long, text string"
    )
    r = bigram_perplexity(oov, lam=1.0, lm_df=lm).first()
    assert r.n_bigrams == 5 and math.isinf(r.ppl) and r.ppl > 0
    # while an in-distribution chain stays finite
    chain = spark.createDataFrame([(0, "a b c a b c")], "doc_id long, text string")
    r2 = bigram_perplexity(chain, lam=1.0, lm_df=lm).first()
    assert r2.ppl >= 1.0 and math.isfinite(r2.ppl)
    # short docs (<2 tokens) are excluded; lam is validated
    short = spark.createDataFrame([(7, "solo")], "doc_id long, text string")
    assert bigram_perplexity(short, lm_df=lm).count() == 0
    with pytest.raises(ValueError, match="lam"):
        bigram_perplexity(short, lam=1.5, lm_df=lm)


def test_corpus_report_approx_mode(spark, docs):
    """exact=False swaps the fingerprint count-distinct for the HLL
    sketch: same schema, estimates within a few percent of exact."""
    from photon_ml_spark.operators.text import corpus_report

    exact = {r[0]: r for r in corpus_report(docs, group_col="lang").collect()}
    approx = {
        r[0]: r
        for r in corpus_report(docs, group_col="lang", exact=False).collect()
    }
    assert set(exact) == set(approx)
    for g, e in exact.items():
        a = approx[g]
        assert a.n_docs == e.n_docs and a.n_tokens == e.n_tokens
        assert abs(a.n_unique_docs - e.n_unique_docs) <= max(
            5, 0.10 * e.n_unique_docs
        )


def test_poisson_loglik_large_count_labels(spark):
    """lnΓ(1+y) switches to the Stirling series above y=64 — big count
    labels must neither allocate an O(y) array per row nor lose
    precision vs the exact driver-side lgamma."""
    import math

    from pyspark.sql import functions as F

    from photon_ml_spark.functions.metrics import poisson_data_loglik_and_aic

    rows = [(0.0, 0.2), (5.0, 0.1), (64.0, 0.4), (65.0, 0.3),
            (500.0, 0.25), (100000.0, 0.05)]
    df = spark.createDataFrame(rows, "label double, score double")
    got = poisson_data_loglik_and_aic(df, k=2).first().loglik
    want = sum(
        y * m - math.exp(m) - math.lgamma(1.0 + y) for y, m in rows
    )
    assert got == pytest.approx(want, rel=1e-12)


def test_shared_tokens_column_matches_text_path(spark):
    """The shared-tokenization seam (tokens_expr): every stage that
    accepts a pre-built token-array column must produce EXACTLY the
    result of its tokenize-from-text path — the curate driver relies
    on this to tokenize the corpus once per run instead of once per
    stage."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import dedup, sampling, text

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),
            (2, "the cat sat on the mat", "en"),
            (3, "The Cat  sat ON the mat", "en"),
            (4, "completely different words here now", "en"),
            (5, "the dog sat on the mat", "de"),
            (6, "one-token", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    toked = docs.withColumn("__toks", text.tokens(F.col("text")))

    def same(a, b, cols):
        left = sorted(a.select(*cols).collect())
        right = sorted(b.select(*cols).collect())
        assert left == right

    same(
        text.quality_score(docs),
        text.quality_score(toked, tokens_col="__toks"),
        ["doc_id", "n_tokens", "stopword_ratio", "quality"],
    )
    same(
        text.unigram_perplexity(docs),
        text.unigram_perplexity(toked, tokens_col="__toks"),
        ["doc_id", "n_tokens", "ppl"],
    )
    same(
        text.ngram_novelty(docs, n=2),
        text.ngram_novelty(toked, n=2, tokens_col="__toks"),
        ["doc_id", "n_ngrams", "n_novel"],
    )
    same(
        dedup.bow_exact_dedup(docs),
        dedup.bow_exact_dedup(toked, tokens_col="__toks"),
        ["keep_id", "n_docs", "doc_ids"],
    )
    same(
        dedup.minhash_lsh_dedup(docs, threshold=0.5, n=2),
        dedup.minhash_lsh_dedup(toked, threshold=0.5, n=2, tokens_col="__toks"),
        ["id_a", "id_b", "jaccard"],
    )
    ev = docs.filter("doc_id = 5").select("doc_id", "text")
    same(
        dedup.contaminated_docs(docs, ev, n=2),
        dedup.contaminated_docs(toked, ev, n=2, tokens_col="__toks"),
        ["doc_id", "n_shared_ngrams", "n_eval_docs"],
    )
    same(
        sampling.dsir_select(docs, F.col("lang") == "de", k=2),
        sampling.dsir_select(
            toked, F.col("lang") == "de", k=2, tokens_col="__toks"
        ),
        ["doc_id", "logweight", "rank"],
    )
    same(
        text.chunk_documents(docs, max_tokens=3, overlap=1),
        text.chunk_documents(toked, max_tokens=3, overlap=1,
                             tokens_col="__toks"),
        ["doc_id", "chunk_id", "chunk_tokens", "chunk_text"],
    )


def test_wav_decode_widths_and_channels(spark):
    """The stdlib WAV decoder across PCM widths and channel counts:
    8-bit unsigned, 16-bit, 32-bit, and stereo channel-averaging all
    produce the documented normalized RMS; an unsupported 24-bit
    payload degrades to decode_ok=False."""
    import io
    import struct
    import wave

    def wav(nch, width, rate, frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(rate)
            w.writeframes(frames)
        return bytearray(buf.getvalue())

    rows = [
        # 16-bit mono constant half-scale -> rms 0.5
        (1, wav(1, 2, 8000, struct.pack("<100h", *([16384] * 100)))),
        # 8-bit mono constant at 192 -> (192-128)/128 = 0.5
        (2, wav(1, 1, 16000, bytes([192] * 100))),
        # 32-bit mono constant half-scale -> rms 0.5
        (3, wav(1, 4, 44100, struct.pack("<50i", *([1 << 30] * 50)))),
        # stereo: +half and -half average to 0 -> rms 0.0
        (4, wav(2, 2, 8000, struct.pack("<100h", *([16384, -16384] * 50)))),
        # 24-bit: unsupported width -> decode_ok False
        (5, wav(1, 3, 8000, b"\x00\x00\x40" * 60)),
    ]
    df = spark.createDataFrame(
        [(i, p, "audio/wav") for i, p in rows],
        "doc_id long, payload binary, media_type string",
    )
    out = {r.doc_id: r for r in multimodal.decode_audio(df).collect()}
    assert (out[1].sample_rate, out[1].n_samples) == (8000, 100)
    assert out[1].rms == pytest.approx(0.5, abs=1e-6)
    assert out[2].rms == pytest.approx(0.5, abs=1e-6)
    assert out[3].rms == pytest.approx(0.5, abs=1e-6)
    assert out[4].rms == pytest.approx(0.0, abs=1e-9)
    # 100 packed int16s = 50 stereo FRAMES; n_samples counts frames
    # after channel-averaging, matching the soundfile decoder
    assert out[4].n_samples == 50
    assert not out[5].decode_ok


def _make_png(pixels, color_type, filters=None):
    """Hand-encode a PNG from an (h, w, channels) uint8 array, applying
    the given per-row filter types (default all 0) — an independent
    encoder so the decoder is tested against the spec, not itself."""
    import struct
    import zlib

    import numpy as np

    h, w, nch = pixels.shape
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(w * nch, dtype=np.int64)
    for y, f in zip(range(h), filters):
        row = pixels[y].reshape(-1).astype(np.int64)
        out = row.copy()
        for x in range(w * nch):
            a = row[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if f == 1:
                out[x] = (row[x] - a) & 0xFF
            elif f == 2:
                out[x] = (row[x] - b) & 0xFF
            elif f == 3:
                out[x] = (row[x] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[x] = (row[x] - pred) & 0xFF
        raw.append(f)
        raw.extend(int(v) & 0xFF for v in out)
        prev = row

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _make_bmp(pixels):
    """Hand-encode an uncompressed 24-bit bottom-up BMP from an
    (h, w, 3) RGB uint8 array."""
    import struct

    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = pixels[y, x]
            row += bytes((int(b), int(g), int(r)))
        row += b"\x00" * (row_bytes - len(row))
        body += row
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + bytes(body)


def test_stdlib_image_decode_png_bmp(spark):
    """Real image path — no skip: the stdlib PNG/BMP decoder runs in
    codec-less containers. Gradient RGB exercises all five PNG filter
    types against an independent spec encoder; RGBA, grayscale, BMP,
    and junk/unsupported payloads cover the branch matrix."""
    import numpy as np

    h, w = 7, 5
    rgb = (
        np.arange(h * w * 3, dtype=np.int64).reshape(h, w, 3) * 37 % 256
    ).astype(np.uint8)
    want_luma = float(
        (0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2])
        .astype(np.float64).mean() / 255.0
    )
    gray = rgb[:, :, :1]
    rgba = np.concatenate([rgb, np.full((h, w, 1), 77, np.uint8)], axis=2)
    rows = [
        (1, bytearray(_make_png(rgb, 2, filters=[0, 1, 2, 3, 4, 2, 1]))),
        (2, bytearray(_make_png(gray, 0))),
        (3, bytearray(_make_png(rgba, 6, filters=[4, 4, 3, 1, 0, 2, 4]))),
        (4, bytearray(_make_bmp(rgb))),
        (5, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(
        [(i, p, "image/mixed") for i, p in rows],
        "doc_id long, payload binary, media_type string",
    )
    out = {r.doc_id: r for r in multimodal.decode_image(df).collect()}
    for i in (1, 2, 3, 4):
        assert (out[i].width, out[i].height) == (w, h), i
        assert out[i].decode_ok, i
    assert out[1].mean_luma == pytest.approx(want_luma, abs=1e-9)
    assert out[3].mean_luma == pytest.approx(want_luma, abs=1e-9)  # alpha ignored
    assert out[4].mean_luma == pytest.approx(want_luma, abs=1e-9)
    assert out[2].mean_luma == pytest.approx(
        float(gray.astype(np.float64).mean() / 255.0), abs=1e-9
    )
    assert not out[5].decode_ok


def test_missing_codec_fails_loudly_not_silently(spark):
    """A corpus in a KNOWN format the stdlib decoders cannot parse
    (JPEG without Pillow, MP3/FLAC without soundfile) must FAIL the
    job, not 'succeed' with decode_ok=False on every row — that would
    silently discard the whole corpus downstream. Unknown garbage still
    degrades per-row."""
    if multimodal._pil_available() or multimodal._soundfile_available():
        pytest.skip("codec libraries present — stdlib branch not selected")
    jpeg = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 32), "image/jpeg")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="Pillow is not installed"):
        multimodal.decode_image(jpeg).collect()
    mp3 = spark.createDataFrame(
        [(1, bytearray(b"ID3\x04" + b"\x00" * 32), "audio/mp3")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="soundfile is not installed"):
        multimodal.decode_audio(mp3).collect()
    # sanity: unknown bytes still degrade instead of failing
    junk = spark.createDataFrame(
        [(1, bytearray(b"random junk bytes"), "x")],
        "doc_id long, payload binary, media_type string",
    )
    assert not multimodal.decode_image(junk).first().decode_ok
    assert not multimodal.decode_audio(junk).first().decode_ok


def test_unsupported_png_variants_fail_loudly(spark):
    """Palette (color type 3), 16-bit, and interlaced PNGs are VALID
    PNGs the stdlib decoder cannot handle — same loud-fail contract as
    JPEG-without-Pillow: MissingCodecError, never a silent
    decode_ok=False discard of the corpus. Genuinely corrupt headers
    (invalid color type) still degrade per-row."""
    import struct
    import zlib

    import numpy as np

    if multimodal._pil_available():
        pytest.skip("Pillow present — stdlib branch not selected")

    def png_with_ihdr(depth, color, interlace):
        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body))
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 8))
            + chunk(b"IEND", b"")
        )

    for depth, color, interlace in [(8, 3, 0), (16, 2, 0), (8, 2, 1)]:
        with pytest.raises(
            multimodal.MissingCodecError, match="stdlib decoder"
        ):
            multimodal._png_decode(png_with_ihdr(depth, color, interlace))
        df = spark.createDataFrame(
            [(1, bytearray(png_with_ihdr(depth, color, interlace)), "p")],
            "doc_id long, payload binary, media_type string",
        )
        with pytest.raises(Exception, match="stdlib decoder"):
            multimodal.decode_image(df).collect()
    # invalid color type = corrupt data, not a missing codec
    with pytest.raises(ValueError, match="invalid color type"):
        multimodal._png_decode(png_with_ihdr(8, 5, 0))
    corrupt = spark.createDataFrame(
        [(1, bytearray(png_with_ihdr(8, 5, 0)), "p")],
        "doc_id long, payload binary, media_type string",
    )
    assert not multimodal.decode_image(corrupt).first().decode_ok


def test_degenerate_image_dimensions_are_not_ok(spark):
    """Zero-dimension PNG/BMP headers must come back decode_ok=False,
    never decode_ok=True with NaN luma (which would poison corpus-level
    aggregates)."""
    import math
    import struct
    import zlib

    import numpy as np

    # valid-looking PNG with h=0
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    png0 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 0, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b""))
        + chunk(b"IEND", b"")
    )
    # valid-looking 24-bit BMP with biHeight=0
    off = 54
    bmp0 = (
        struct.pack("<2sIHHI", b"BM", off, 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 5, 0, 1, 24, 0, 0, 0, 0, 0, 0)
    )
    df = spark.createDataFrame(
        [(1, bytearray(png0), "p"), (2, bytearray(bmp0), "b")],
        "doc_id long, payload binary, media_type string",
    )
    out = {r.doc_id: r for r in multimodal.decode_image(df).collect()}
    for i in (1, 2):
        assert not out[i].decode_ok, i
        assert not math.isnan(out[i].mean_luma), i


def test_video_real_decode_y4m(spark):
    """Real video path — no skip: the stdlib YUV4MPEG2 decoder runs in
    codec-less containers. Hand-built streams across C420/C444/mono
    colorspaces decode to their true dims/fps/frame-count and exact
    sampled-luma means; compressed containers without PyAV raise
    MissingCodecError; junk degrades per-row."""
    import numpy as np

    def y4m(w, h, fps, lumas, csp="420"):
        """One gray frame per luma value; chroma planes neutral 128."""
        plane = {"420": w * h // 2, "422": w * h, "444": w * h * 2,
                 "mono": 0}[csp]
        out = bytearray(
            f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C{csp}\n".encode()
        )
        for l in lumas:
            out += b"FRAME\n"
            out += bytes([l] * (w * h)) + bytes([128] * plane)
        return out

    rows = [
        (1, y4m(4, 2, 25, [0, 51, 102, 153, 204, 255])),   # C420, 6 frames
        (2, y4m(3, 3, 30, [128], csp="444")),               # C444, 1 frame
        (3, y4m(8, 2, 12, [64, 192], csp="mono")),          # mono, 2 frames
        (4, bytearray(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16)),  # MP4
        (5, bytearray(b"random junk")),
    ]
    if not multimodal._av_available():
        df_mp4 = spark.createDataFrame(
            [(4, rows[3][1], "video/mp4")],
            "doc_id long, payload binary, media_type string",
        )
        with pytest.raises(Exception, match="PyAV is not installed"):
            multimodal.decode_video(df_mp4).collect()
    df = spark.createDataFrame(
        [(i, p, "video/x-y4m") for i, p in rows if i != 4],
        "doc_id long, payload binary, media_type string",
    )
    out = {r.doc_id: r for r in multimodal.decode_video(df).collect()}
    assert (out[1].width, out[1].height, out[1].fps, out[1].n_frames) \
        == (4, 2, 25.0, 6)
    assert out[1].mean_luma == pytest.approx(
        np.mean([0, 51, 102, 153, 204, 255]) / 255.0, abs=1e-9
    )
    assert out[1].duration_sec == pytest.approx(6 / 25.0)
    assert (out[2].width, out[2].height, out[2].n_frames) == (3, 3, 1)
    assert out[2].mean_luma == pytest.approx(128 / 255.0, abs=1e-9)
    assert (out[3].width, out[3].fps, out[3].n_frames) == (8, 12.0, 2)
    assert out[3].mean_luma == pytest.approx((64 + 192) / 2 / 255.0, abs=1e-9)
    assert not out[5].decode_ok

    # frame SAMPLING: 40 frames, max_frames=4 -> stride 10, exact mean
    # over frames 0, 10, 20, 30
    lumas = [(i * 6) % 256 for i in range(40)]
    df40 = spark.createDataFrame(
        [(9, y4m(2, 2, 24, lumas), "video/x-y4m")],
        "doc_id long, payload binary, media_type string",
    )
    r = multimodal.decode_video(df40, max_frames=4).first()
    assert r.n_frames == 40
    want = np.mean([lumas[0], lumas[10], lumas[20], lumas[30]]) / 255.0
    assert r.mean_luma == pytest.approx(want, abs=1e-9)

    # fake path: deterministic + independent of max_frames
    fk1 = multimodal.decode_video(df40, fake=True).first()
    fk2 = multimodal.decode_video(df40, fake=True, max_frames=2).first()
    assert (fk1.width, fk1.height, fk1.fps, fk1.n_frames, fk1.mean_luma) \
        == (fk2.width, fk2.height, fk2.fps, fk2.n_frames, fk2.mean_luma)
    assert 32 <= fk1.width < 256 and fk1.fps in (12.0, 24.0, 25.0, 30.0)


def test_sq8_recall_and_index_roundtrip(spark, emb, tmp_path):
    """SQ8 scalar quantization: 255 levels per dim lose almost nothing
    on these embeddings (recall@5 vs exact brute force near 1), the
    code column is genuinely 1-byte (array<tinyint>), the persisted
    index reproduces the in-plan search exactly (queries re-encoded
    with the INDEX's saved grid), and encode/search stay JVM-only."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    brute = similarity.cosine_topk(emb, queries, k=5, vec_col="qe")
    lo, hi = similarity.sq8_train(emb, vec_col="qe", dim=64)
    enc = similarity.sq8_encode(emb, lo, hi, vec_col="qe")
    # 1-byte code column
    assert dict(enc.dtypes)["sq8"] == "array<tinyint>"
    sq = similarity.sq8_topk(
        enc, enc.filter(F.col("vec_id") % 25 == 0), lo, hi, k=5
    )
    bp = {(r.query_id, r.vec_id) for r in brute.collect()}
    sp = {(r.query_id, r.vec_id) for r in sq.collect()}
    assert len(sp & bp) / len(bp) >= 0.9

    # reconstruction bounds: every Z component within d_j/2 · (1/255
    # scale) of 255× the original value (the quantization error bound)
    import numpy as np

    rec = enc.withColumn(
        "z", similarity.sq8_reconstruct(F.col("sq8"), lo, hi)
    ).select("qe", "z").collect()
    d = np.array(hi) - np.array(lo)
    for r in rec:
        err = np.abs(255.0 * np.array(r.qe) - np.array(r.z))
        assert (err <= d / 2 + 1e-9).all()

    # persisted index: same rows as the in-plan search
    idx = str(tmp_path / "sq8_idx")
    similarity.save_sq8_index(emb, idx, vec_col="qe", dim=64)
    from_idx = similarity.sq8_topk_from_index(
        spark, idx, queries, k=5, vec_col="qe"
    )
    a = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in sq.collect()}
    b = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in from_idx.collect()}
    assert a == b

    # no Python in the encode or search plan
    plan = sq._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_ivf_sq8_composed_index(spark, emb, tmp_path):
    """IVF+SQ8 composed index (both levers: partition-pruned cells AND
    1-byte codes): full probe over every cell visits every candidate,
    so the result must equal brute sq8_topk EXACTLY (same grid, same
    candidates, same integer reconstruction) — the composition adds
    routing, never different arithmetic."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    idx = str(tmp_path / "ivf_sq8_idx")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5, sq8=True, dim=64
    )
    # the stored table is codes, not floats
    stored = spark.read.parquet(f"{idx}/vectors")
    assert dict(stored.dtypes)["sq8"] == "array<tinyint>"
    composed = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe"
    )
    lo, hi = similarity.sq8_train(emb, vec_col="qe", dim=64)
    enc = similarity.sq8_encode(emb, lo, hi, vec_col="qe")
    brute = similarity.sq8_topk(
        enc, enc.filter(F.col("vec_id") % 25 == 0), lo, hi, k=5
    )
    a = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in composed.collect()}
    b = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in brute.collect()}
    assert a == b


def test_ivf_overwrite_sq8_with_float_clears_marker(spark, emb, tmp_path):
    """save_ivf_index(sq8=False) over a path that previously held an
    SQ8 index must clear the stale meta.json format marker — otherwise
    reads route to the SQ8 branch against a float vectors table."""
    idx = str(tmp_path / "ivf_flip_idx")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5, sq8=True, dim=64
    )
    import os

    assert os.path.exists(f"{idx}/meta.json")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5, sq8=False
    )
    assert not os.path.exists(f"{idx}/meta.json")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe"
    )
    brute = similarity.cosine_topk(
        emb.select("vec_id", F.col("qe").alias("embedding")),
        queries.select("vec_id", F.col("qe").alias("embedding")),
        k=5,
    )
    a = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in out.collect()}
    b = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in brute.collect()}
    assert a == b


def test_sq8_out_of_grid_query_clamps(spark, emb, tmp_path):
    """Queries encoded with a persisted index's grid may carry
    components outside the trained [lo, hi]: codes must clamp to the
    grid edges (FAISS semantics) instead of overflowing the tinyint
    cast (ANSI throw / silent wraparound)."""
    idx = str(tmp_path / "sq8_clamp_idx")
    similarity.save_sq8_index(emb, idx, vec_col="qe", dim=64)
    # push every component far outside the trained grid, both sides
    wild = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "qe",
        F.transform(
            "qe",
            lambda x: F.when(x >= 0, x * 1000 + 1e7).otherwise(
                x * 1000 - 1e7
            ),
        ),
    )
    out = similarity.sq8_topk_from_index(spark, idx, wild, k=3, vec_col="qe")
    rows = out.collect()
    assert len(rows) > 0  # would have thrown under ANSI without clamp
    lo, hi = similarity.sq8_train(emb, vec_col="qe", dim=64)
    codes = similarity.sq8_encode(wild, lo, hi, vec_col="qe").select(
        "sq8"
    ).first().sq8
    assert set(codes) <= {-128, 127}  # every component clamped to an edge


def test_pq_codes_and_reconstruction(spark, emb):
    """PQ encode: seeds code to themselves (centroid c's code at every
    sub-quantizer is c), codes are m bytes, and the reconstruction of a
    seed equals the seed exactly."""
    qe = emb.select("vec_id", F.transform(
        "qe", lambda x: F.round(x * 1000, 0)).alias("qe"))
    cb = similarity.pq_train_sampled(qe, m=8, ksub=16, vec_col="qe", dim=64)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    enc = similarity.pq_encode(qe, cb, vec_col="qe")
    assert dict(enc.dtypes)["pq"] == "array<tinyint>"
    seeds = enc.orderBy("vec_id").limit(16).collect()
    for c, r in enumerate(seeds):
        # a seed's nearest centroid at every sub-quantizer is itself
        # (distance 0; ties -> lowest index can only pick an equal twin)
        rec = similarity.pq_reconstruct_expr(F.col("pq"), cb)
        assert all(
            cb[j][code] == cb[j][c]
            for j, code in enumerate(r.pq)
        ), (c, r.pq)
    rec_df = enc.withColumn(
        "rv", similarity.pq_reconstruct_expr(F.col("pq"), cb)
    ).orderBy("vec_id").limit(16).collect()
    raw = {r.vec_id: r.qe for r in qe.orderBy("vec_id").limit(16).collect()}
    for r in rec_df:
        assert list(r.rv) == [float(x) for x in raw[r.vec_id]]


def test_pq_index_roundtrip_and_size(spark, emb, tmp_path):
    """save_pq_index → pq_topk_from_index reproduces the in-memory ADC
    result exactly; the persisted codes table is much smaller than the
    float embedding table (the 100 TB artifact story)."""
    import glob
    import os

    qe = emb.select("vec_id", F.transform(
        "qe", lambda x: F.round(x * 1000, 0)).alias("qe"))
    idx = str(tmp_path / "pq_idx")
    similarity.save_pq_index(
        qe, idx, m=8, ksub=16, vec_col="qe", dim=64, codebook="sampled"
    )
    queries = qe.filter(F.col("vec_id") % 25 == 0)
    from_index = similarity.pq_topk_from_index(
        spark, idx, queries, k=5, vec_col="qe"
    )
    cb = similarity.pq_train_sampled(qe, m=8, ksub=16, vec_col="qe", dim=64)
    enc = similarity.pq_encode(qe, cb, vec_col="qe")
    direct = similarity.pq_topk(enc, queries, cb, k=5, vec_col="qe")
    a = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in from_index.collect()}
    b = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in direct.collect()}
    assert a == b and len(a) > 0

    # artifact size: m=8 bytes/vector vs 64 float64 (qe) — parquet
    # overhead shrinks the headline ratio, but it must still be large
    raw_dir = str(tmp_path / "raw_qe")
    qe.write.parquet(raw_dir)
    size = lambda d: sum(  # noqa: E731
        os.path.getsize(p) for p in glob.glob(f"{d}/**/*.parquet", recursive=True)
    )
    ratio = size(raw_dir) / size(f"{idx}/codes")
    assert ratio > 4, ratio


def test_pq_recall_vs_brute(spark, emb):
    """PQ is lossy by design — measure recall@5 of ADC vs exact brute
    force (sampled 16-centroid codebook on real embeddings: weak
    quantizer, bounded floor; k-means codebooks raise it)."""
    qe = emb.select("vec_id", F.transform(
        "qe", lambda x: F.round(x * 1000, 0)).alias("qe"))
    cb = similarity.pq_train_sampled(qe, m=8, ksub=16, vec_col="qe", dim=64)
    enc = similarity.pq_encode(qe, cb, vec_col="qe")
    queries = qe.filter(F.col("vec_id") % 25 == 0)
    pq = {
        (r.query_id, r.vec_id)
        for r in similarity.pq_topk(enc, queries, cb, k=5, vec_col="qe").collect()
    }
    brute = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(
            qe.select("vec_id", F.col("qe").alias("embedding")),
            queries.select("vec_id", F.col("qe").alias("embedding")),
            k=5,
        ).collect()
    }
    recall = len(pq & brute) / len(brute)
    assert 0.05 <= recall <= 1.0, recall


def test_ivf_pq_composed_index(spark, emb, tmp_path):
    """IVF+PQ composed index (partition-pruned cells AND m-byte codes):
    full probe over every cell visits every candidate, so the result
    must equal direct ADC pq_topk EXACTLY (same codebook, same
    reconstruction, same raw-query asymmetric cosine)."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    idx = str(tmp_path / "ivf_pq_idx")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5,
        pq=True, pq_m=8, pq_ksub=16, dim=64, pq_codebook="sampled",
    )
    stored = spark.read.parquet(f"{idx}/vectors")
    assert dict(stored.dtypes)["pq"] == "array<tinyint>"
    composed = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe"
    )
    cb = similarity.pq_train_sampled(emb, m=8, ksub=16, vec_col="qe", dim=64)
    enc = similarity.pq_encode(emb.select("vec_id", "qe"), cb, vec_col="qe")
    direct = similarity.pq_topk(enc, queries, cb, k=5, vec_col="qe")
    a = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in composed.collect()}
    b = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in direct.collect()}
    assert a == b and len(a) > 0

    with pytest.raises(ValueError, match="sq8 OR pq"):
        similarity.save_ivf_index(
            emb, str(tmp_path / "x"), k=2, vec_col="qe", sq8=True, pq=True
        )


def test_ivf_refine_rerank(spark, emb, tmp_path):
    """FAISS-RefineFlat idiom: a quantized IVF index retrieving
    k·refine_factor candidates, exactly re-ranked against the raw
    corpus. With full probe and a shortlist covering the whole corpus
    the refined result must equal exact brute force (true cosines,
    true ranks); with a small factor it still returns k rows whose
    cosines are the TRUE values (not ADC approximations)."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.select("vec_id", "qe")
    n = corpus.count()
    idx = str(tmp_path / "ivf_pq_refine_idx")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5,
        pq=True, pq_m=8, pq_ksub=16, dim=64, pq_codebook="sampled",
    )
    refined_full = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe",
        refine=corpus, refine_factor=n,  # shortlist = every candidate
    )
    brute = similarity.cosine_topk(corpus, queries, k=5, vec_col="qe")
    a = {
        (r.query_id, r.vec_id, round(r.cosine, 9), r.rank)
        for r in refined_full.collect()
    }
    b = {
        (r.query_id, r.vec_id, round(r.cosine, 9), r.rank)
        for r in brute.collect()
    }
    assert a == b and len(a) > 0

    refined_small = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe",
        refine=corpus, refine_factor=2,
    ).collect()
    true_cos = {
        (r.query_id, r.vec_id): round(r.cosine, 9)
        for r in similarity.cosine_topk(
            corpus, queries, k=n, vec_col="qe"
        ).collect()
    }
    assert len(refined_small) == 5 * queries.count()
    for r in refined_small:
        assert round(r.cosine, 9) == true_cos[(r.query_id, r.vec_id)]

    with pytest.raises(ValueError, match="refine_factor"):
        similarity.ivf_topk_from_index(
            spark, idx, queries, k=5, vec_col="qe",
            refine=corpus, refine_factor=0,
        )


def test_pq_ksub_bounds(spark, emb):
    """ksub > 127 would overflow the signed tinyint code — rejected."""
    for bad in (0, 128, 256):
        with pytest.raises(ValueError, match=r"\[1, 127\]"):
            similarity.pq_train_sampled(emb, m=8, ksub=bad, vec_col="qe")


# ---------------------------------------------- scale and safety guards


def test_simhash_default_is_scale_form():
    """A default-argument call must plan the WIDE signature (2^15
    buckets per band at bands=4), not the 16-bit LCG oracle shape the
    round-11 100x ledger measured at 562x wall."""
    for fn in (dedup.simhash_signatures, dedup.simhash_neardup_pairs):
        params = inspect.signature(fn).parameters
        assert params["bits"].default == 60, fn.__name__
        assert params["bit_hash"].default == "xxhash", fn.__name__
    assert dedup.SIMHASH_BITS == 60
    assert dedup.SIMHASH_ORACLE_BITS == 16
    # default bands=4 -> 60/4 = 15 bits -> 32768 buckets per band
    bands = inspect.signature(dedup.simhash_neardup_pairs).parameters[
        "bands"
    ].default
    assert 2 ** (dedup.SIMHASH_BITS // bands) >= 32768


def test_collapse_exact_sets_verify_clean(docs):
    """verify=True exact-compares each member's shingle set against its
    representative's; on a real corpus (honest fingerprints) it must
    pass and return the identical membership/rep relation."""
    base = docs.limit(30)
    dups = base.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    sids = dedup.token_ids(base.unionByName(dups), n=1).cache()
    m0, r0 = dedup.collapse_exact_sets(sids)
    m1, r1 = dedup.collapse_exact_sets(sids, verify=True)
    assert {tuple(r) for r in m0.collect()} == {
        tuple(r) for r in m1.collect()
    }
    assert r0.count() == r1.count()
    sids.unpersist()


def test_collapse_verify_audits_forced_bad_membership(spark, monkeypatch):
    """The verify audit must be sound WITHOUT trusting the fingerprint:
    force a wrong membership (as a real 2^-62 collision would) and
    assert both failure modes are caught — a member with a shingle
    outside its rep's set (containment) and a member whose set is a
    strict SUBSET of the rep's (the case one-sided containment alone
    would pass; caught by the distinct-cardinality comparison even
    when duplicate (id, sid) rows inflate raw row counts)."""
    rows = [
        (1, 10), (1, 20),           # rep: {10, 20}
        (2, 10), (2, 20), (2, 20),  # honest dup of 1, with a dup row
        (3, 10), (3, 30),           # {10, 30}: 30 not in rep's set
        (4, 10), (4, 10),           # {10}: strict subset, 2 raw rows
    ]
    sids = spark.createDataFrame(rows, "doc_id long, sid long")
    forced = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1)], "doc_id long, __rep long"
    )
    monkeypatch.setattr(
        dedup, "_membership_from_fingerprints", lambda fp, id_col: forced
    )
    with pytest.raises(ValueError, match="collision") as ei:
        dedup.collapse_exact_sets(sids, verify=True)
    assert "2 doc(s)" in str(ei.value)  # 3 (containment) + 4 (subset)


def test_collapse_verify_passes_with_duplicate_rows(spark):
    """Honest groups whose input relation carries duplicate (id, sid)
    rows must still verify clean: containment + distinct-cardinality
    are multiplicity-blind."""
    rows = [
        (1, 10), (1, 20),
        (2, 10), (2, 20), (2, 10),  # same set as 1... but 3 raw rows
        (3, 10), (3, 20),
    ]
    sids = spark.createDataFrame(rows, "doc_id long, sid long")
    membership, reps = dedup.collapse_exact_sets(sids, verify=True)
    got = {(r["doc_id"], r["__rep"]) for r in membership.collect()}
    # 1 and 3 merge (identical relations); 2's raw row count differs so
    # the fingerprint keeps it separate (a missed merge, never a wrong
    # one — the documented duplicate-row behavior)
    assert got == {(1, 1), (3, 1), (2, 2)}


def test_cosine_full_cross_guard(emb, monkeypatch):
    """block_col=None is a full self cross-join: above the documented
    row cap it must raise instead of OOM, unless the caller opts in
    with allow_full_cross=True. Blocked calls never pay the guard."""
    small = emb.limit(40)
    monkeypatch.setattr(similarity, "FULL_CROSS_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="allow_full_cross"):
        similarity.cosine_neardup_pairs(small, 0.9, vec_col="qe").count()
    # opt-in accepts the quadratic cost
    n_opt = similarity.cosine_neardup_pairs(
        small, 0.9, vec_col="qe", allow_full_cross=True
    ).count()
    # the collapse_exact path threads the opt-in through its recursion
    n_col = similarity.cosine_neardup_pairs(
        small, 0.9, vec_col="qe", allow_full_cross=True,
        collapse_exact=True,
    ).count()
    assert n_opt == n_col
    # blocked form is the scale path: no guard, no opt-in needed
    similarity.cosine_neardup_pairs(
        small, 0.9, block_col="label", vec_col="qe"
    ).count()
    monkeypatch.setattr(similarity, "FULL_CROSS_MAX_ROWS", 100_000)
    assert (
        similarity.cosine_neardup_pairs(small, 0.9, vec_col="qe").count()
        == n_opt
    )


def test_full_cross_guard_single_pass(emb):
    """The success-path plan reads localCheckpointed blocks (LogicalRDD)
    on both cross-join sides — the upstream lineage executes once for
    the guard count and never again (r12 ADVICE: the guard used to be
    a second full pass per call)."""
    small = emb.limit(40).select("vec_id", "qe")
    out = similarity.cosine_neardup_pairs(small, 0.9, vec_col="qe")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed
    assert "parquet" not in analyzed.lower()
    assert out.count() >= 0  # plan executes


def test_collapse_exact_respects_block_col(spark):
    """Bit-identical vectors in DIFFERENT blocks must not merge when
    the block is not a function of the vector (ADVICE r11 #1): the
    collapsed blocked run emits exactly the uncollapsed blocked run's
    pairs — no cross-block pairs at cosine 1.0."""
    v = [1.0, 0.0, 0.0]
    w = [0.9, 0.1, 0.0]
    rows = [
        (1, "en", v), (2, "en", v),   # same block, identical -> pair
        (3, "fr", v), (4, "fr", w),   # other block, 3 identical to 1/2
        (5, "en", w),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, lang string, embedding array<double>"
    )
    blocked = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_neardup_pairs(
            df, 0.95, block_col="lang"
        ).collect()
    }
    collapsed = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_neardup_pairs(
            df, 0.95, block_col="lang", collapse_exact=True
        ).collect()
    }
    assert collapsed == blocked
    assert (1, 2) in collapsed
    assert (1, 3) not in collapsed and (2, 3) not in collapsed


def test_refine_incomplete_corpus_keeps_quantized_score(
    spark, emb, tmp_path
):
    """An incomplete refine frame must degrade gracefully (ADVICE r11
    #2): shortlist ids missing from the refine corpus keep their
    quantized score instead of vanishing, so every query still gets k
    rows."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.select("vec_id", "qe")
    idx = str(tmp_path / "ivf_sq8_partial_refine")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5, sq8=True
    )
    k = 5
    # refine corpus missing every odd id — roughly half the shortlist
    partial = corpus.filter(F.col("vec_id") % 2 == 0)
    refined = similarity.ivf_topk_from_index(
        spark, idx, queries, k=k, n_probe=4, vec_col="qe",
        refine=partial, refine_factor=2,
    ).collect()
    per_q = {}
    for r in refined:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == k for v in per_q.values())
    assert len(per_q) == queries.count()
    # missing-side rows survive with a finite (quantized) score
    odd = [r for r in refined if r.vec_id % 2 == 1]
    assert odd, "some odd ids should make the top-k"
    assert all(r.cosine is not None for r in refined)
    # even ids carry the TRUE cosine (exact re-rank applied)
    true_cos = {
        (r.query_id, r.vec_id): round(r.cosine, 9)
        for r in similarity.cosine_topk(
            corpus, queries, k=corpus.count(), vec_col="qe"
        ).collect()
    }
    for r in refined:
        if r.vec_id % 2 == 0:
            assert round(r.cosine, 9) == true_cos[(r.query_id, r.vec_id)]


def test_refined_col_flags_unrefined_rows(spark, emb, tmp_path):
    """refined_col makes a truncated refine corpus OBSERVABLE: rows
    whose score was exactly re-ranked carry True, rows that kept the
    quantized score carry False — with no extra job on the search
    lineage. Default call keeps the r12 4-column schema."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.select("vec_id", "qe")
    idx = str(tmp_path / "ivf_sq8_flagged_refine")
    similarity.save_ivf_index(
        emb, idx, k=4, vec_col="qe", seed=42, max_iter=5, sq8=True
    )
    partial = corpus.filter(F.col("vec_id") % 2 == 0)
    flagged = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe",
        refine=partial, refine_factor=2, refined_col="refined",
    )
    assert flagged.columns == [
        "query_id", "vec_id", "cosine", "rank", "refined"
    ]
    rows = flagged.collect()
    assert all(r.refined == (r.vec_id % 2 == 0) for r in rows)
    assert any(not r.refined for r in rows)  # truncation is visible
    # an agg over the flag quantifies the gap (the observability story)
    n_unrefined = flagged.filter(~F.col("refined")).count()
    assert n_unrefined == sum(1 for r in rows if not r.refined)
    # default: schema unchanged from r12 (no surprise column)
    default = similarity.ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe",
        refine=partial, refine_factor=2,
    )
    assert default.columns == ["query_id", "vec_id", "cosine", "rank"]


def test_fake_decoders_match_python_stubs(spark, sf_dir):
    """The Catalyst fake decode paths (sha2 + conv expressions) must be
    value-identical to the Python stub decoders they replaced."""
    from photon_ml_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    payloads = mm.attach_payload(docs)
    rows = {
        r.doc_id: r for r in mm.decode_image(payloads, fake=True).collect()
    }
    arows = {
        r.doc_id: r for r in mm.decode_audio(payloads, fake=True).collect()
    }
    vrows = {
        r.doc_id: r for r in mm.decode_video(payloads, fake=True).collect()
    }
    for r in payloads.collect():
        p = bytes(r.payload)
        w, h, luma = mm._fake_decode(p)
        got = rows[r.doc_id]
        assert (got.width, got.height) == (w, h)
        assert got.mean_luma == luma and got.decode_ok
        sr, ns, rms = mm._fake_audio_decode(p)
        ga = arows[r.doc_id]
        assert (ga.sample_rate, ga.n_samples, ga.rms) == (sr, ns, rms)
        vw, vh, fps, nf, vl = mm._fake_video_decode(p)
        gv = vrows[r.doc_id]
        assert (gv.width, gv.height, gv.fps, gv.n_frames) == (vw, vh, fps, nf)
        assert gv.mean_luma == vl
        assert gv.duration_sec == nf / fps
    # and no Python-eval node anywhere in the fake plans
    for d in (
        mm.decode_image(payloads, fake=True),
        mm.decode_audio(payloads, fake=True),
        mm.decode_video(payloads, fake=True),
    ):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan
    # a NULL payload: the fake paths read it as the real ones do
    # (zeros, decode_ok=False), never NULL metrics with decode_ok=True
    null = spark.createDataFrame(
        [(7, None, "image/fake")], "doc_id long, payload binary, media_type string"
    )
    for decode in (mm.decode_image, mm.decode_audio, mm.decode_video):
        fake = decode(null, fake=True).collect()
        real = decode(null, fake=False).collect()
        assert fake == real, decode.__name__
        assert fake[0].decode_ok is False


def _single_source_share(sids) -> float:
    """Share of docs whose minhash signature takes all of its components
    from one shingle (the argmin of every hash is the same sid)."""
    a = np.array([p[0] for p in dedup.MINHASH_PARAMS], dtype=np.int64)
    b = np.array([p[1] for p in dedup.MINHASH_PARAMS], dtype=np.int64)
    by_doc: dict = {}
    for doc, sid in sids.collect():
        by_doc.setdefault(doc, []).append(sid)
    single = 0
    for ids in by_doc.values():
        h = (np.outer(np.array(ids, dtype=np.int64), a) + b) % dedup.MINHASH_PRIME
        arg = h.argmin(axis=0)
        single += bool((arg == arg[0]).all())
    return single / len(by_doc)


def test_minhash_family_permutes_hashed_ids_only(spark, sf_dir):
    """``MINHASH_PARAMS`` hashes are (a·sid + b) mod p with a ≤ 1,000,003:
    below sid ≈ 2,147 nothing wraps, every hash is increasing in the id,
    and all 16 components of a signature come from the doc's smallest id.
    The dense bigram ids of a small vocabulary live there; hashed ids
    spread over [0, p), where the hashes act as permutations."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _single_source_share(dedup.token_ids(docs, n=2)) == 1.0
    assert _single_source_share(dedup.token_ids_hashed(docs, n=2)) <= 0.05
