"""Round-13 hardening: refine-incompleteness observability
(``refined_col``), the duplicate-row-robust exact-set verify, and the
single-pass full-cross guard (VERDICT r12 'Next' #4/#7 + ADVICE r12
findings). The narrowed avro remote-fallback excepts are tested in
``test_avro_io.py``."""

import pytest
from pyspark.sql import functions as F

from photon_ml_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    return e.withColumn(
        "qe", F.transform("embedding", lambda x: x.cast("double"))
    ).cache()


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


def test_cd_checkpoint_generations_are_serialized(spark):
    """The coordinate-descent loop's localCheckpointed generations must
    store SERIALIZED (packed per-partition buffers), not the
    localCheckpoint default (one deserialized UnsafeRow object per
    row): at the 100x stress factor the default OOMed a 24g heap in
    the first summed-score join. Pinned by inspecting the storage
    level of every cached RDD live right after train_game (the
    returned RE model tables are loop checkpoints that outlive the
    call)."""
    from pyspark.sql import functions as F

    from photon_ml_spark.ml.coordinate_descent import (
        CoordinateConfig,
        train_game,
    )

    df = (
        spark.range(400)
        .select(
            F.col("id").alias("uid"),
            (F.col("id") % 7).cast("double").alias("response"),
            F.lit(0.0).alias("offset"),
            F.lit(1.0).alias("weight"),
            (F.col("id") % 5).cast("string").alias("entity"),
            F.array(F.lit(0).cast("long")).alias("features_indices"),
            F.array((F.col("id") % 3).cast("double")).alias(
                "features_values"
            ),
        )
    )
    before = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    model, _ = train_game(
        df,
        coordinates=[
            CoordinateConfig(name="g", kind="fixed", dim=1),
            CoordinateConfig(
                name="re", kind="random", dim=1, entity_col="entity",
                reg_param=1.0,
            ),
        ],
        family="gaussian",
        n_iterations=1,
    )
    # force the returned RE table's checkpoint blocks to exist
    model.coordinates["re"].count()
    new = [
        i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.id() not in before and i.numCachedPartitions() > 0
    ]
    # every block the loop materialized (surviving = the returned RE
    # model checkpoints; the input persist and superseded generations
    # are released inside the loop) stores without per-row objects:
    # the level string carries "deserialized" only for the default
    levels = {str(i.storageLevel()) for i in new}
    assert new, "expected live checkpoint blocks from the CD loop"
    assert not any("deserialized" in lv for lv in levels), levels


def test_drop_new_duplicates_batch_side_membership(spark, tmp_path):
    """r13: drop_new_duplicates tests pair-endpoint membership against
    the BATCH-side ids instead of scanning the corpus-sized index-id
    relation four times — equivalent under the incremental contract
    (endpoints ⊆ indexed ∪ new, disjoint by the clash guard). Pins
    (a) output identical to the index-side 4-join reference form and
    (b) the indexed_ids argument is no longer scanned at all."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") % 4 == 0)
    )
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path / "dnd_idx")
    dedup.save_minhash_index(old, idx, n=2, num_hashes=16)
    pairs = dedup.incremental_neardup(
        new, idx, threshold=0.4, n=2, num_hashes=16, bands=4,
        collapse_exact=True,
    ).persist()
    assert pairs.count() > 0  # non-trivial resolution

    # reference: the pre-r13 index-side membership form
    o = old.select("doc_id")
    hits_old = (
        pairs.join(o.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .unionByName(
            pairs.join(
                o.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi"
            ).select(F.col("id_a").alias("doc_id"))
        )
        .distinct()
    )
    ref_survivors = new.join(hits_old, "doc_id", "left_anti")
    ref_new_new = (
        pairs.join(o.withColumnRenamed("doc_id", "id_a"), "id_a", "left_anti")
        .join(o.withColumnRenamed("doc_id", "id_b"), "id_b", "left_anti")
        .select("id_a", "id_b")
    )
    ref = (
        dedup.cluster_and_keep(ref_survivors, ref_new_new, id_col="doc_id")
        .filter("is_keep")
        .drop("cluster_id", "is_keep")
    )
    ref_ids = sorted(r.doc_id for r in ref.select("doc_id").collect())
    got = dedup.drop_new_duplicates(new, pairs, old.select("doc_id"))
    got_ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert got_ids == ref_ids and len(got_ids) < new.count()

    # (b) the index-id relation is never evaluated: a frame that
    # raises on ANY action passes through untouched
    poison = spark.range(1).select(
        F.assert_true(F.lit(False)).alias("x"), F.col("id").alias("doc_id")
    )
    got2 = dedup.drop_new_duplicates(new, pairs, poison)
    assert sorted(
        r.doc_id for r in got2.select("doc_id").collect()
    ) == ref_ids
    pairs.unpersist()
