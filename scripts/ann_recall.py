"""Partial-probe ANN recall sweep — the number a 100 TB user tunes.

Full-probe == brute equality is pinned by tests; this measures what a
production deployment actually runs: recall@k at n_probe ≪ cells, per
index family (IVF float, IVF-SQ8, IVF-PQ), on JITTERED embeddings (the
stress harness's deterministic per-replica cosine jitter — off any
generator grid, so cells are earned by the quantizer, not by synthetic
cluster structure).

Usage:
    python scripts/ann_recall.py            # sf0.1, 5 replicas, k=10
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 REPLICAS=3 python ...

Prints one JSON line: {"recall_at_k": {...curves...}, "params": {...}}.
The measured sf0.1 curve is recorded in BASELINE.md; the floor test
(tests/test_ann_recall.py) pins IVF recall@10 at the documented default
n_probe=half-the-cells on the same jittered construction.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jittered_corpus(spark, sf_dir: str, replicas: int):
    """Replicate the embeddings table with the stress harness's
    deterministic per-replica jitter (scripts/stress_scale.py
    embeddings_rep): replica r shifts coordinate i by
    0.05·cos((i+1)·r) — decorrelates replicas, keeps everything
    deterministic and off-grid."""
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    salt = 1_000_000_000

    def _jitter(r):
        # closure, not a default arg: pyspark's higher-order-function
        # bridge binds a Column to EVERY lambda parameter
        return lambda v, i: (
            v + 0.05 * F.cos((i + 1).cast("double") * float(r))
        ).cast("float")

    parts = []
    for r in range(replicas):
        parts.append(
            base.select(
                (F.col("vec_id") + r * salt).alias("vec_id"),
                F.transform("embedding", _jitter(r)).alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run(spark, sf_dir: str, replicas: int, k: int, cells: int,
        n_queries: int, workdir: str) -> dict:
    from pyspark.storagelevel import StorageLevel

    from photon_ml_spark.materialize import persist, release
    from photon_ml_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_from_index,
        recall_at_k,
        save_ivf_index,
    )

    corpus = persist(
        jittered_corpus(spark, sf_dir, replicas), StorageLevel.MEMORY_AND_DISK_DESER
    )
    n = corpus.count()
    step = max(n // n_queries, 1)
    queries = persist(
        corpus.filter(
            F.pmod(F.col("vec_id"), F.lit(step)) == 0
        ).limit(n_queries),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    nq = queries.count()

    truth = persist(cosine_topk(corpus, queries, k), StorageLevel.MEMORY_AND_DISK_DESER)
    truth.count()

    curves: dict[str, dict[str, float]] = {}
    variants = {
        "ivf": {},
        "ivf_sq8": {"sq8": True},
        "ivf_pq": {"pq": True},
    }
    probes = sorted({1, 2, max(cells // 4, 1), max(cells // 2, 1), cells})
    for name, kw in variants.items():
        path = f"{workdir}/{name}_index"
        save_ivf_index(corpus, path, k=cells, **kw)
        curve = {}
        for n_probe in probes:
            pred = ivf_topk_from_index(
                spark, path, queries, k=k, n_probe=n_probe
            )
            curve[str(n_probe)] = round(recall_at_k(truth, pred, k), 4)
        curves[name] = curve
        if kw:  # quantized variants: the exact-re-rank (refine) curve
            rcurve = {}
            for n_probe in probes:
                pred = ivf_topk_from_index(
                    spark, path, queries, k=k, n_probe=n_probe,
                    refine=corpus, refine_factor=4,
                )
                rcurve[str(n_probe)] = round(recall_at_k(truth, pred, k), 4)
            curves[f"{name}_refine"] = rcurve
    release(truth)
    release(queries)
    release(corpus)
    return {
        "recall_at_k": curves,
        "params": {
            "k": k, "cells": cells, "n_vectors": n, "n_queries": nq,
            "replicas": replicas, "sf_dir": sf_dir,
        },
    }


def main() -> None:
    import tempfile

    from photon_ml_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicas = int(os.environ.get("REPLICAS", "5"))
    cells = int(os.environ.get("CELLS", "16"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="ann-recall", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("WARN")
    with tempfile.TemporaryDirectory(prefix="ann_recall_") as wd:
        out = run(
            spark, sf_dir, replicas=replicas, k=10, cells=cells,
            n_queries=100, workdir=wd,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
