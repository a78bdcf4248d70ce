"""Streaming near-dedup: the foreachBatch composition must match the
same incremental-dedup code run as sequential daily batches, and a
replayed batch must be a no-op (at-least-once idempotence)."""

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from photon_ml_spark.operators import dedup
from photon_ml_spark.streaming.curation import (
    neardup_process_batch,
    stream_neardup,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
DOC_SCHEMA = "doc_id long, source string, lang string, text string"


def _write_single_file(df, dst_dir, name):
    """Write df as exactly one parquet file named ``name`` in dst_dir."""
    tmp = os.path.join(dst_dir, f"__tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    out = os.path.join(dst_dir, name)
    shutil.copyfile(part, out)
    shutil.rmtree(tmp)
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )


def test_stream_neardup_matches_sequential_batches(spark, tmp_path_factory, docs):
    root = str(tmp_path_factory.mktemp("stream_neardup"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    f_a = _write_single_file(half_a, src, "batch_a.parquet")
    f_b = _write_single_file(half_b, src, "batch_b.parquet")
    # the file source orders micro-batches by modification time — pin it
    now = time.time()
    os.utime(f_a, (now - 100, now - 100))
    os.utime(f_b, (now, now))

    # reference: the SAME function as two sequential daily batches
    idx_b = os.path.join(root, "index_batch")
    out_b = os.path.join(root, "out_batch")
    for i, half in enumerate((half_a, half_b)):
        neardup_process_batch(
            half, idx_b, out_b, batch_id=i, threshold=0.5, n=2, bands=8
        )
    batch_ids = sorted(
        r.doc_id for r in spark.read.parquet(out_b).select("doc_id").collect()
    )

    # stream: one micro-batch per file
    idx_s = os.path.join(root, "index_stream")
    out_s = os.path.join(root, "out_stream")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_neardup(
        stream, idx_s, out_s, os.path.join(root, "ckpt"),
        threshold=0.5, n=2, bands=8,
    )
    q.awaitTermination(300)
    stream_ids = sorted(
        r.doc_id for r in spark.read.parquet(out_s).select("doc_id").collect()
    )

    assert len(stream_ids) == len(set(stream_ids))  # no dup survivors
    assert 0 < len(stream_ids) < docs.count()  # dedup actually dropped docs
    assert stream_ids == batch_ids

    # index state covers exactly the survivors
    idx_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{idx_s}/signatures")
        .select("doc_id")
        .collect()
    )
    assert idx_ids == stream_ids

    # at-least-once replay: re-running the last batch changes nothing
    neardup_process_batch(
        half_b, idx_b, out_b, batch_id=1, threshold=0.5, n=2, bands=8
    )
    again = sorted(
        r.doc_id for r in spark.read.parquet(out_b).select("doc_id").collect()
    )
    assert again == batch_ids


def test_stream_increments_compose_with_batch_built_index(
    spark, tmp_path, docs
):
    """ADVICE round-3 #1: a stream (or daily job) pointed at an index
    bootstrapped by ``save_minhash_index`` must work — both writers
    share the canonical ``batch=<id>`` layout — and produce the same
    survivors as bootstrapping through ``neardup_process_batch``."""
    from photon_ml_spark.operators.dedup import save_minhash_index

    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    # reference: both batches through the process-batch path
    idx_ref = str(tmp_path / "idx_ref")
    out_ref = str(tmp_path / "out_ref")
    for i, half in enumerate((half_a, half_b)):
        neardup_process_batch(
            half, idx_ref, out_ref, batch_id=i, threshold=0.5, n=2, bands=8
        )
    ref_inc_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(out_ref)
        .filter("batch = 1")
        .select("doc_id")
        .collect()
    )

    # batch-built bootstrap (note: save_minhash_index does NOT dedup
    # within the bootstrap corpus, so index against the process-batch
    # SURVIVORS of half_a to keep the comparison exact)
    surv_a = spark.read.parquet(out_ref).filter("batch = 0").drop("batch")
    idx = str(tmp_path / "idx_mixed")
    out = str(tmp_path / "out_mixed")
    save_minhash_index(surv_a, idx, n=2)
    neardup_process_batch(
        half_b, idx, out, batch_id=1, threshold=0.5, n=2, bands=8
    )
    got_ids = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert got_ids == ref_inc_ids
    # index layout stayed discoverable: one read sees both writers' rows
    sigs = spark.read.parquet(f"{idx}/signatures")
    assert "batch" in sigs.columns
    assert {r.batch for r in sigs.select("batch").distinct().collect()} == {
        -1,
        1,
    }


def test_batch_id_collision_with_different_input_is_refused(
    spark, tmp_path, docs
):
    """ADVICE round-3 #4: a fresh-checkpoint restart re-uses batch ids
    starting at 0 — overwriting an earlier unrelated batch's staging
    partition must be refused, while a true replay (same input) is a
    clean no-op."""
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    neardup_process_batch(
        half_a, idx, out, batch_id=0, threshold=0.5, n=2, bands=8
    )
    before = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # true replay: same id, same input — no-op
    neardup_process_batch(
        half_a, idx, out, batch_id=0, threshold=0.5, n=2, bands=8
    )
    assert before == sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # collision: same id, different input — refused, nothing overwritten
    with pytest.raises(ValueError, match="DIFFERENT input"):
        neardup_process_batch(
            half_b, idx, out, batch_id=0, threshold=0.5, n=2, bands=8
        )
    assert before == sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )


def test_legacy_flat_index_layout_is_refused(spark, tmp_path, docs):
    """A flat (unpartitioned) index cannot host replay-safe staged
    overwrites — mixing layouts breaks parquet partition discovery, so
    the increment refuses it explicitly instead of failing obscurely."""
    from photon_ml_spark.operators.dedup import (
        minhash_signatures,
        token_ids_hashed,
        write_index_params,
    )

    idx = str(tmp_path / "flat_idx")
    sids = token_ids_hashed(docs.limit(40), n=2)
    sids.write.parquet(f"{idx}/doc_sids")
    minhash_signatures(sids, "doc_id", 16).write.parquet(f"{idx}/signatures")
    write_index_params(spark, idx, n=2, num_hashes=16)
    with pytest.raises(ValueError, match="legacy flat layout"):
        neardup_process_batch(
            docs.limit(20),
            idx,
            str(tmp_path / "out_flat"),
            batch_id=0,
            threshold=0.5,
            n=2,
            bands=8,
        )


def test_negative_batch_id_is_refused(spark, tmp_path, docs):
    with pytest.raises(ValueError, match="batch_id must be >= 0"):
        neardup_process_batch(
            docs.limit(5),
            str(tmp_path / "i"),
            str(tmp_path / "o"),
            batch_id=-1,
        )


def test_crash_before_params_rebootstraps(spark, tmp_path, docs):
    """ADVICE round-3 #3: params.json is the bootstrap commit marker.
    Simulate a crash between publishing relations and writing the
    marker — the restart must take the bootstrap path again (not wedge
    on a half-index) and end in a committed state."""
    idx = str(tmp_path / "idx_crash")
    out = str(tmp_path / "out_crash")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    neardup_process_batch(
        half_a, idx, out, batch_id=0, threshold=0.5, n=2, bands=8
    )
    committed = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # simulate the crash: roll back the commit markers, keep relations
    os.remove(os.path.join(idx, "params.json"))
    shutil.rmtree(os.path.join(idx, "_published"))
    neardup_process_batch(
        half_a, idx, out, batch_id=0, threshold=0.5, n=2, bands=8
    )
    assert committed == sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert os.path.exists(os.path.join(idx, "params.json"))


def test_drop_new_duplicates_batch_side_membership(
    spark, oracle_sf_dir, tmp_path
):
    """r13: drop_new_duplicates tests pair-endpoint membership against
    the BATCH-side ids instead of scanning the corpus-sized index-id
    relation four times — equivalent under the incremental contract
    (endpoints ⊆ indexed ∪ new, disjoint by the clash guard). Pins
    (a) output identical to the index-side 4-join reference form and
    (b) the indexed_ids argument is no longer scanned at all."""
    docs = (
        spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
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
