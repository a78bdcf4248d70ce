"""Streaming corpus curation: near-dup dedup over a document stream.

The batch side of this flow already exists — ``save_minhash_index``
builds the persisted LSH state, ``incremental_neardup`` joins a new
batch against it, ``drop_new_duplicates`` resolves keepers — so the
streaming surface is a thin ``foreachBatch`` composition: Structured
Streaming supplies ordered, replayable micro-batches, and each batch
runs the SAME incremental-dedup code a daily batch job would run.
(The reference is batch-only — SURVEY §2.8 — this module is part of
the rebuild's streaming extension, like streaming/events.py.)

Semantics (first-seen-wins, the near-dup analog of ``first_seen``):

- a new doc near-matching any already-indexed doc is dropped;
- within a batch, near-dup clusters keep the canonical min-id doc;
- survivors are appended to the output AND to the index state, so the
  next micro-batch (or tomorrow's batch job — the state is shared)
  sees them.

Fault tolerance: ``foreachBatch`` is at-least-once, so a replayed
micro-batch must be idempotent. Every write of a batch is an
OVERWRITE of the batch's own ``batch=<id>`` staging subdirectory (the
standard foreachBatch exactly-once recipe), and the pre-batch index
state a replay recomputes against excludes the batch's own staging
partitions — so a retry after a crash at ANY point rewrites identical
content instead of appending duplicates. ``save_minhash_index``
stages its bootstrap rows under the reserved ``batch=-1`` partition,
so batch-built and stream-built indexes share one canonical layout.

Batch identity: the staging recipe assumes ``batch_id`` values are
unique per input across ALL writers of an index — a stream restarted
with a fresh checkpoint restarts foreachBatch ids at 0 and would
silently overwrite an unrelated earlier batch's partition. Each
published batch therefore leaves a ``_published/batch-<id>.json``
marker carrying a content fingerprint of its input; a batch whose id
is already published with a DIFFERENT fingerprint is refused, and one
with the SAME fingerprint is a completed replay and skips cleanly.

State growth: the index gains one signature row and one shingle-set
per SURVIVING doc — the same O(corpus) state the batch index carries;
LSH banding keeps per-batch join cost O(|batch| · bucket occupancy),
never a corpus scan.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from photon_ml_spark.materialize import persist, scope

from photon_ml_spark.sources.model_io import (
    _hadoop_exists,
    _hadoop_read_text,
    _hadoop_write_text,
)


def _batch_fingerprint(batch: DataFrame, id_col: str, text_col: str) -> dict:
    """Deterministic, order-independent identity of a batch's input:
    row count + SUMs of the modded (id, text) row hashes under TWO
    independent moduli with independently-seeded hashes — a collision
    needs the same count and two simultaneous ~1e9-space coincidences
    (~1e-18 jointly), vs a single-sum scheme where one accidental
    match silently skips a batch as a 'completed replay'. Sum, not
    xor — xor cancels duplicate rows (two copies of row A hash to 0),
    so different multisets could collide; a sum is multiset-safe. The
    pmod bounds keep each sum overflow-free to ~9e9 rows. A replay of
    the same input always matches (foreachBatch replays deliver the
    same rows)."""
    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(
                F.xxhash64(F.col(id_col), F.col(text_col)),
                F.lit(1_000_000_007),
            )
        ).alias("idhash"),
        F.sum(
            F.pmod(
                F.xxhash64(F.lit("fp2"), F.col(id_col), F.col(text_col)),
                F.lit(999_999_937),
            )
        ).alias("idhash2"),
    ).collect()[0]
    return {
        "n": row["n"],
        "idhash": int(row["idhash"] or 0),
        "idhash2": int(row["idhash2"] or 0),
    }


def _marker_path(index_path: str, batch_id: int) -> str:
    return f"{index_path}/_published/batch-{int(batch_id)}.json"


def neardup_process_batch(
    batch: DataFrame,
    index_path: str,
    out_path: str,
    batch_id: int = 0,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    sid_fn=None,
    tokens_col: str | None = None,
    timings: dict | None = None,
) -> None:
    """Process ONE micro-batch (or one daily batch — same function):
    drop near-dups against the index, publish survivors under
    ``out_path`` and their dedup state under ``index_path``.
    Bootstraps the index (and its parameter manifest) from the first
    batch when ``index_path`` has no committed index.

    ``batch_id`` is the replay-stable batch identity (Structured
    Streaming's foreachBatch id; a date ordinal for daily jobs); must
    be >= 0 (``batch=-1`` is reserved for batch-built bootstraps).
    Every write is an OVERWRITE of the batch's own ``batch=<id>``
    staging subdirectory — see the module docstring for the replay /
    identity contract.

    ``sid_fn`` (optional): shingle-id relation builder with the
    ``token_ids_hashed`` signature (see ``save_minhash_index``) —
    every batch written to ONE index must use the same ``sid_fn``;
    the correctness gate injects dense SQL-portable ids so the 2-batch
    flow replays exactly in the DuckDB oracle.

    ``tokens_col`` (optional): a pre-built token-array column on the
    batch (the shared-tokenization seam, ``text.tokens_expr``) — the
    default ``token_ids_hashed`` reads it instead of re-splitting the
    text (identical sids by construction: the hash is over the
    shingle STRINGS), and it is dropped before survivors are
    published, so the staged output schema never carries it. Ignored
    when an explicit ``sid_fn`` is given.

    ``timings`` (optional, bench attribution): phase wall seconds are
    recorded around each ACTION — ``fingerprint`` (the batch-identity
    agg), ``survivors`` (publishes survivors; since plans are lazy,
    this write carries the LSH detect + resolution compute),
    ``index_sids`` / ``index_sigs`` (the index-append IO). No extra
    materialization is added: phases are existing action boundaries."""
    from photon_ml_spark.operators.dedup import (
        cluster_and_keep,
        drop_new_duplicates,
        incremental_neardup,
        minhash_lsh_collapsed,
        minhash_signatures,
        neardup_cluster_edges,
        token_ids_hashed,
        write_index_params,
    )

    spark = batch.sparkSession
    if int(batch_id) < 0:
        raise ValueError(
            "neardup_process_batch: batch_id must be >= 0 "
            "(batch=-1 is the reserved save_minhash_index bootstrap id)"
        )
    import time as _time

    def _phase(key, thunk):
        if timings is None:
            return thunk()
        t0 = _time.perf_counter()
        out = thunk()
        timings[key] = round(
            timings.get(key, 0.0) + _time.perf_counter() - t0, 3
        )
        return out

    # one aggregation serves both the empty-batch check and the
    # batch-identity fingerprint (no separate isEmpty scan per trigger)
    marker = _marker_path(index_path, batch_id)
    fp = _phase(
        "fingerprint", lambda: _batch_fingerprint(batch, id_col, text_col)
    )
    if fp["n"] == 0:
        return

    # batch-identity guard: refuse an id collision across writers
    # (fresh-checkpoint restart against a populated index); skip a
    # completed replay of the same input
    if _hadoop_exists(spark, marker):
        stored = json.loads(_hadoop_read_text(spark, marker))
        if stored == fp:
            return  # fully published already — replay is a no-op
        raise ValueError(
            f"neardup_process_batch: batch_id={int(batch_id)} was "
            "already published for a DIFFERENT input (restarted stream "
            "with a fresh checkpoint?) — overwriting its staging "
            "partition would corrupt the shared index; re-key batches "
            "or use a new index/output root"
        )

    def publish(survivors, sids):
        keep_sids = sids.join(
            survivors.select(id_col), id_col, "left_semi"
        )
        if tokens_col:
            survivors = survivors.drop(tokens_col)
        _phase(
            "survivors",
            lambda: survivors.write.mode("overwrite").parquet(
                f"{out_path}/batch={int(batch_id)}"
            ),
        )
        _phase(
            "index_sids",
            lambda: keep_sids.write.mode("overwrite").parquet(
                f"{index_path}/doc_sids/batch={int(batch_id)}"
            ),
        )
        _phase(
            "index_sigs",
            lambda: minhash_signatures(keep_sids, id_col, num_hashes)
            .write.mode("overwrite")
            .parquet(f"{index_path}/signatures/batch={int(batch_id)}"),
        )

    # bootstrap-complete detection keys on params.json — written LAST
    # by every bootstrap path, so it is a commit marker (a crash
    # mid-bootstrap leaves no params.json and the restart re-bootstraps
    # over the uncommitted staging dirs instead of wedging on an
    # unreadable half-index)
    from photon_ml_spark.operators.dedup import INDEX_PARAMS_FILE

    if sid_fn is None:
        def sid_fn(d, i, t, nn):
            return token_ids_hashed(d, i, t, nn, tokens_col=tokens_col)
    if not _hadoop_exists(spark, f"{index_path}/{INDEX_PARAMS_FILE}"):
        # bootstrap: batch-internal LSH dedup, survivors found the index
        with scope():
            sids = persist(
                sid_fn(batch, id_col, text_col, n),
                StorageLevel.MEMORY_AND_DISK_DESER,
            )
            # hot-bucket guard (dedup.collapse_exact_sets): LSH over one
            # rep per distinct shingle set, linear star edges into the
            # clustering — a boilerplate-heavy batch must not explode
            # the bucket self-join quadratically
            rep_pairs, membership = minhash_lsh_collapsed(
                batch, threshold=threshold, n=n, id_col=id_col,
                text_col=text_col, num_hashes=num_hashes, bands=bands,
                doc_sids=sids,
            )
            pairs = neardup_cluster_edges(
                rep_pairs, membership, id_col=id_col
            )
            # cluster_and_keep's connected components run EAGER actions
            # (one bounded collect of the edge list, or per-iteration
            # localCheckpoints above the bound), and the lazy LSH
            # detection feeds them — this phase is detection + resolution
            survivors = _phase(
                "resolve",
                lambda: cluster_and_keep(batch, pairs, id_col=id_col)
                .filter("is_keep")
                .drop("cluster_id", "is_keep"),
            )
            publish(survivors, sids)
            write_index_params(
                spark, index_path, n=n, num_hashes=num_hashes
            )
            _hadoop_write_text(spark, marker, json.dumps(fp, sort_keys=True))
        return

    # Replay safety: the prior index state is the stored relations
    # MINUS this batch's own staging partition — a replayed batch (even
    # after a crash mid-publish) recomputes against exactly the state
    # it saw the first time, so the staged overwrites rewrite identical
    # content. (A per-doc "already indexed" prefilter would NOT be
    # safe: docs dropped as duplicates never enter the index, so the
    # filter would shrink the batch on replay and the overwrite would
    # wipe the original survivors.)
    old_sigs = spark.read.parquet(f"{index_path}/signatures")
    old_sids = spark.read.parquet(f"{index_path}/doc_sids")
    if "batch" not in old_sigs.columns or "batch" not in old_sids.columns:
        raise ValueError(
            "neardup_process_batch: index at "
            f"{index_path!r} has a legacy flat layout (no batch= "
            "staging partitions) — replay-safe staged overwrites "
            "cannot compose with it; rebuild it with "
            "save_minhash_index (which stages under batch=-1)"
        )
    not_mine = F.col("batch") != int(batch_id)
    old_sigs = old_sigs.filter(not_mine)
    old_sids = old_sids.filter(not_mine)
    # one shingle-id relation serves detection AND the index append;
    # the scope releases everything per trigger, so a long-running
    # stream does not accumulate cached frames
    with scope():
        sids = persist(
            sid_fn(batch, id_col, text_col, n),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        # pairs are persisted because resolution consumes them several
        # times (old-hit semi-joins from both sides + the new-new edge
        # list feeding connected components) — unpersisted, every
        # consumer would replay the full LSH candidate + exact-verify
        # chain
        # collapse_exact: hot-bucket guard on the batch side (identical
        # new docs collapse before the bucket join against the index);
        # the expansion inside incremental_neardup keeps the pair
        # relation identical
        pairs = persist(
            incremental_neardup(
                batch, index_path, threshold=threshold, id_col=id_col,
                text_col=text_col, n=n, num_hashes=num_hashes, bands=bands,
                new_sids=sids, old_sids=old_sids, old_sigs=old_sigs,
                collapse_exact=True,
            ),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        if timings is not None:
            # bench attribution only: materialize the persisted pairs
            # under a "detect" stamp (consumers then read the cache —
            # the same materialization the first consumer would do)
            _phase("detect", pairs.count)
        # drop_new_duplicates runs the eager connected-components
        # resolution on the new-new edges
        survivors = _phase(
            "resolve",
            lambda: persist(
                drop_new_duplicates(
                    batch, pairs, old_sigs.select(id_col), id_col=id_col
                ),
                StorageLevel.MEMORY_AND_DISK_DESER,
            ),
        )
        publish(survivors, sids)
        _hadoop_write_text(spark, marker, json.dumps(fp, sort_keys=True))


def stream_neardup(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    tokens_col: str | None = None,
):
    """Attach the near-dedup sink to a streaming document source and
    start it (availableNow trigger — drain the backlog, then stop; use
    the returned query's ``awaitTermination``). Each micro-batch runs
    ``neardup_process_batch`` against the shared index state.
    ``tokens_col``: pre-built token-array column on the stream (see
    ``neardup_process_batch``); never published."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        neardup_process_batch(
            batch, index_path, out_path, batch_id=batch_id,
            threshold=threshold, id_col=id_col, text_col=text_col,
            n=n, num_hashes=num_hashes, bands=bands,
            tokens_col=tokens_col,
        )

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
