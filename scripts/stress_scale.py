"""10x-scale + skewed-entity stress harness (round-4 scale evidence).

The per-round bench proves correctness+perf at sf0.1; every 100 TB
claim beyond that was plan-shape reasoning. This harness manufactures
the missing evidence locally:

- ``build``: derive two datasets from sf0.1 under ``.stress/``:
  * ``x10/`` — every stressed table replicated 10x with SALTED keys
    (orderkeys/doc_ids/vec_ids shifted per replica so joins stay
    consistent and nothing collides). Entities scale too (suppkey
    salted -> 10x entities at constant per-entity size — the GAME
    scaling direction). Document text is vowel-rotated per replica and
    embeddings dim-jittered so the dedup/ANN pair structure scales
    ~linearly instead of manufacturing 10x cross-replica duplicates.
  * ``skew/`` — the same 10x lineitem but replicas 0-2 forced into
    entity '1': ONE entity owns ~30% of 6M rows. This is the
    RandomEffectDataset 2 GB hazard (reference rails:
    RandomEffectDataset.scala:38-45,
    RandomEffectDatasetPartitioner.scala:110-136).
- ``run``: time the five verdict-named paths (flagship, m2, x6, x9,
  x14) at sf0.1 and at x{F} and print the ratios; then the skew case:
  the T2 per-entity cap + per-entity fit over the skewed table (the
  reference's own rail), plus the UNCAPPED fit to show the engine
  survives a multi-million-row pandas group at all, and the skewed
  J5 scoring join through broadcast / SMJ / forced-AQE-skew-split
  plans. One JSON line to stdout.

``STRESS_FACTOR`` (default 10) picks the replication factor — the
same harness produced the 10x and 30x evidence rows in BASELINE.md.

Expected shapes (written down BEFORE running, judged in BASELINE.md):
near-linear (<=~12x) for flagship/m2/x6/x14; x9's registry row is
O(queries x corpus) with BOTH sides scaling 10x, so the brute/BLAS
blocks are quadratic BY SPEC (~100x) — the extra ``x9_fixed_queries``
measurement pins the linear direction (fixed 80-query set, 10x
corpus, BLAS + IVF paths).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".stress")
# replication factor (STRESS_FACTOR env; default 10). Datasets land in
# .stress/x{F} and .stress/skew{F} so factors coexist on disk.
FACTOR = int(os.environ.get("STRESS_FACTOR", "10"))
X10 = os.path.join(ROOT, f"x{FACTOR}")
SKEW = os.path.join(ROOT, "skew" if FACTOR == 10 else f"skew{FACTOR}")
SALT = 10_000_000  # key shift per replica; > any sf0.1 key
VOWS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio"]


def _t(spark, name: str) -> DataFrame:
    return spark.read.parquet(f"{SRC}/{name}.parquet")


def _reps(df: DataFrame, build_rep) -> DataFrame:
    out = None
    for r in range(FACTOR):
        part = build_rep(df, r)
        out = part if out is None else out.unionByName(part)
    return out


# STRESS_TABLES: comma-separated subset of big tables to build —
# factor-100 document-path runs (x6/x21) need only `documents`;
# replicating 60M lineitem rows alongside would dominate build time
# and disk for nothing. Default: all.
TABLES = {
    s.strip()
    for s in os.environ.get(
        "STRESS_TABLES", "lineitem,orders,documents,embeddings,events"
    ).split(",")
    if s.strip()
}


def build(spark) -> None:
    # INCREMENTAL: only the tables named in STRESS_TABLES are
    # (re)built; pre-existing tables at the same factor survive, so a
    # factor-100 documents build (hours of replication) is not wiped
    # by a later lineitem-only build at the same factor.
    for d in (X10, SKEW):
        os.makedirs(d, exist_ok=True)
    for t in TABLES:
        shutil.rmtree(f"{X10}/{t}.parquet", ignore_errors=True)
        shutil.rmtree(f"{SKEW}/{t}.parquet", ignore_errors=True)

    def lineitem_rep(df, r, skew=False):
        supp = F.col("l_suppkey") + r * 10_000
        if skew and r < max(1, round(0.3 * FACTOR)):
            supp = F.lit(1).cast("long")  # ~30% of all rows -> entity 1
        return df.select(
            (F.col("l_orderkey") + r * SALT).alias("l_orderkey"),
            "l_partkey",
            supp.alias("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_returnflag", "l_linestatus",
            "l_shipdate",
        )

    def orders_rep(df, r):
        return df.withColumn("o_orderkey", F.col("o_orderkey") + r * SALT)

    def documents_rep(df, r):
        # two independent rotation axes (vowels by r mod 5, consonants
        # by r//5 mod 5) -> 25 distinct text transforms: replicas stay
        # mutually NON-near-duplicate up to factor 25, so near-dup pair
        # counts scale with the corpus instead of being manufactured by
        # the generator (at factor 10 the single vowel axis sufficed;
        # factor 30 exposed r vs r+5 as ~identical texts)
        cons = "bcdfg"
        crot = cons[(r // 5) % 5:] + cons[: (r // 5) % 5]
        return df.select(
            (F.col("doc_id") + r * SALT).alias("doc_id"),
            F.concat(
                F.lit(f"r{r} "),
                F.translate(
                    F.translate("text", "aeiou", VOWS[r % 5]), cons, crot
                ),
            ).alias("text"),
            "lang", "source", "n_chars",
        )

    def embeddings_rep(df, r):
        # per-replica deterministic jitter decorrelates replicas so the
        # cosine near-dup structure doesn't gain 10x cross-replica pairs
        return df.select(
            (F.col("vec_id") + r * SALT).alias("vec_id"),
            F.transform(
                "embedding",
                lambda v, i: (
                    v + 0.05 * F.cos((i + 1).cast("double") * float(r))
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )

    def events_rep(df, r):
        return df.withColumn("event_id", F.col("event_id") + r * SALT)

    if "lineitem" in TABLES:
        _reps(_t(spark, "lineitem"), lineitem_rep).write.parquet(f"{X10}/lineitem.parquet")
        _reps(
            _t(spark, "lineitem"), lambda d, r: lineitem_rep(d, r, skew=True)
        ).write.parquet(f"{SKEW}/lineitem.parquet")
    if "orders" in TABLES:
        _reps(_t(spark, "orders"), orders_rep).write.parquet(f"{X10}/orders.parquet")
    if "documents" in TABLES:
        _reps(_t(spark, "documents"), documents_rep).write.parquet(f"{X10}/documents.parquet")
    if "embeddings" in TABLES:
        _reps(_t(spark, "embeddings"), embeddings_rep).write.parquet(f"{X10}/embeddings.parquet")
    if "events" in TABLES:
        _reps(_t(spark, "events"), events_rep).write.parquet(f"{X10}/events.parquet")
    # dimension tables pass through unscaled (they are broadcast-side);
    # skipped when already present from a previous build at this factor
    for small in ("region", "nation", "supplier", "customer", "part"):
        for d in (X10, SKEW):
            if not os.path.exists(f"{d}/{small}.parquet"):
                _t(spark, small).write.parquet(f"{d}/{small}.parquet")
    if not os.path.exists(f"{SKEW}/orders.parquet"):
        _t(spark, "orders").write.parquet(f"{SKEW}/orders.parquet")
    print("built", X10, "and", SKEW, file=sys.stderr)


QUERIES = [
    "m2_per_entity_ridge",
    "x6_neardup_pairs",
    "x9_ann_topk",
    "x14_pack_shuffle",
]

# STRESS_SKIP: comma-separated row names to leave out of ``run`` —
# needed above factor 10 because the x9 registry row is quadratic BY
# SPEC (both query and corpus sides scale; at 30x that is ~900x of
# its sf0.1 cost). The fixed-query BLAS/IVF datapoint below still
# runs, so the linear direction keeps its measurement.
SKIP = {
    s.strip()
    for s in os.environ.get("STRESS_SKIP", "").split(",")
    if s.strip()
}
_UNKNOWN_SKIP = SKIP - set(QUERIES)
if _UNKNOWN_SKIP:
    # fail fast: a typo here would silently run the quadratic x9 row
    # at 30x (~hours); only QUERIES-loop rows are skippable
    raise SystemExit(
        f"STRESS_SKIP names unknown row(s) {sorted(_UNKNOWN_SKIP)}; "
        f"skippable: {QUERIES}"
    )


def _ratio(base, scaled):
    """xN/sf0.1 wall ratio; null when the base is sub-50ms overhead
    noise (a 'ratio' against fixed job overhead is not measurement)."""
    return round(scaled / base, 1) if base and base >= 0.05 else None


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 2)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark) -> dict:
    from bench import run_flagship
    from photon_ml_spark.queries import all_queries

    registry = all_queries()
    out: dict = {"sf01": {}, "x10": {}, "ratio": {}, "factor": FACTOR}
    for sf_dir, key in ((SRC, "sf01"), (X10, "x10")):
        out[key]["flagship_game_pipeline"] = _time(
            lambda: run_flagship(spark, sf_dir)
        )
        for name in QUERIES:
            if name in SKIP:
                continue
            out[key][name] = _time(
                lambda: _noop(registry[name].run(spark, sf_dir))
            )
        # linear-direction ANN datapoint: FIXED query set (the sf0.1
        # 1-in-25 queries, 80 vectors), corpus scaling 10x -> expect
        # ~10x for the BLAS scan and less for partition-pruned IVF
        from photon_ml_spark.operators.similarity import cosine_topk_blas

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.col("embedding").alias("qe")
        )
        queries = emb.filter(
            (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < SALT)
        )
        out[key]["x9_fixed_queries_blas"] = _time(
            lambda: _noop(cosine_topk_blas(emb, queries, k=5, vec_col="qe"))
        )
    for name, v in out["x10"].items():
        out["ratio"][name] = _ratio(out["sf01"].get(name, 0), v)

    # ---- skew case: one entity holds ~30% of 6M rows ----
    from photon_ml_spark.ml.random_effects import fit_random_effects
    from photon_ml_spark.operators.sampling import per_entity_cap

    li = spark.read.parquet(f"{SKEW}/lineitem.parquet").select(
        F.col("l_suppkey").cast("string").alias("entity"),
        F.col("l_orderkey").alias("uid"),
        F.lit(1.0).alias("weight"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
    )

    def fit(capped: DataFrame) -> int:
        models = fit_random_effects(
            capped, entity_col="entity", dim=1, family="gaussian",
            weight_col="weight", offset_col=None, reg_param=10.0, tol=1e-8,
        )
        return models.count()

    skew: dict = {}
    t0 = time.perf_counter()
    capped = per_entity_cap(li, "entity", cap=10_000, weight_col="weight")
    skew["capped_entities"] = fit(capped)
    skew["capped_fit_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    skew["uncapped_entities"] = fit(li)
    skew["uncapped_fit_sec"] = round(time.perf_counter() - t0, 2)
    biggest = (
        li.groupBy("entity").count().orderBy(F.desc("count")).first()
    )
    skew["biggest_entity_rows"] = biggest["count"]

    # skewed scoring JOIN (J5 shape): the per-entity model table joins
    # a fact side where one entity owns 30% of rows.
    # (a) broadcast (the default plan — the model table is tiny): skew
    #     is irrelevant, the hot key never shuffles.
    # (b) broadcast disabled: sort-merge join shuffles on the hot key.
    #     The hot partition (~6 MB compressed here) is far below the
    #     production skew threshold (256 MB), so AQE correctly leaves
    #     it alone at this scale.
    # (c) thresholds scaled down to the local data size: AQE's
    #     skew-join DOES split the hot partition (the executed plan
    #     shows "AQEShuffleRead … skewed") — the mechanism that absorbs
    #     the same 30% key at 100 TB, demonstrated rather than assumed.
    # Note: AQE only rewrites planner-inserted (ENSURE_REQUIREMENTS)
    # shuffles — a model table derived via .distinct() of the fact side
    # carries an aggregation exchange and is NOT eligible, so the
    # measurement materializes the model table independently.
    from photon_ml_spark.ml.scoring import score_random_effect

    ents = [r.entity for r in li.select("entity").distinct().collect()]
    models = spark.createDataFrame(
        [(e, [0.5], 0.1) for e in ents],
        "entity string, coefficients array<double>, intercept double",
    )

    def score_once():
        scored = score_random_effect(li, models, "entity")
        agg = scored.agg(F.sum("score").alias("s"))
        agg.collect()
        return agg

    skew["score_join_broadcast_sec"] = _time(score_once)
    conf = spark.conf
    # every key SET inside the try must be in the saved/restored set —
    # a missing one leaves the session silently reconfigured for
    # whatever runs after this block
    saved = {
        k: conf.get(k, None)  # None = unset (no default), restored by unset
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        skew["score_join_shuffle_sec"] = _time(score_once)
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1MB",
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        t0 = time.perf_counter()
        agg = score_once()
        skew["score_join_skew_split_sec"] = round(time.perf_counter() - t0, 2)
        plan = agg._jdf.queryExecution().executedPlan().toString()
        skew["aqe_skew_split_engaged"] = "skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    out["skew"] = skew
    return out


def run_x6(spark) -> dict:
    """x6 suite at sf0.1 vs x{F} (round-10 verdict Next #7: extend the
    scale ledger a decade past 30x on the heaviest document path).
    Per-block stamps at both scales + ratios — the suite's own
    constituents (minhash/embedding/incremental/streaming blocks)
    attribute any superlinearity to a specific stage."""
    from photon_ml_spark.materialize import scope
    from photon_ml_spark.queries import all_queries

    registry = all_queries()
    out: dict = {"sf01": {}, "xN": {}, "ratio": {}, "factor": FACTOR}
    for sf_dir, key in ((SRC, "sf01"), (X10, "xN")):
        stamps: dict[str, float] = {}
        with scope():
            t0 = time.perf_counter()
            _noop(
                registry["x6_neardup_pairs"].run(spark, sf_dir, stamps=stamps)
            )
            stamps["total"] = round(time.perf_counter() - t0, 2)
        out[key] = stamps
    for name, v in out["xN"].items():
        out["ratio"][name] = _ratio(out["sf01"].get(name, 0), v)
    return out


def run_x21(spark) -> dict:
    """x21 suite at sf0.1 vs x{F} (round-7 verdict Missing #2): the
    leakage-safe split's near-dup clustering pass (``split_build`` —
    LSH pairs + connected components) dominates the row and was the
    one heavy path without scale evidence. Per-block stamps at both
    scales + the ratio map; expect sublinear-to-linear for the
    LSH-bounded clustering (documents are salted per replica, so the
    pair structure scales ~linearly with the corpus)."""
    from photon_ml_spark.queries import all_queries

    registry = all_queries()
    out: dict = {"sf01": {}, "xN": {}, "ratio": {}, "factor": FACTOR}
    for sf_dir, key in ((SRC, "sf01"), (X10, "xN")):
        stamps: dict[str, float] = {}
        t0 = time.perf_counter()
        _noop(registry["x21_chunk_split"].run(spark, sf_dir, stamps=stamps))
        stamps["total"] = round(time.perf_counter() - t0, 2)
        out[key] = stamps
        spark.catalog.clearCache()
    for name, v in out["xN"].items():
        out["ratio"][name] = _ratio(out["sf01"].get(name, 0), v)
    return out


def run_simhash_wide(spark) -> dict:
    """Scale evidence for the WIDE simhash form (round-11): the gate's
    16-bit LCG simhash has only 2^4 buckets per band, so the bucket
    self-join is quadratic in corpus size (measured 354× at 100× docs
    in the r11 x6 ledger). bits=60 + xxhash mixing gives 2^15 buckets
    per band — occupancy, and therefore the join, should scale ~linearly.
    Measures both forms at sf0.1 and the wide form at x{F} (the narrow
    form at 100× is the 17-minute quadratic we already measured)."""
    from photon_ml_spark.operators.dedup import simhash_neardup_pairs

    out: dict = {"factor": FACTOR}
    for key, sf_dir, kw in (
        # explicit since r12 flipped the function default to the wide
        # xxhash form — {} would now measure the wide form twice
        ("sf01_lcg16", SRC, {"bits": 16, "bit_hash": "lcg"}),
        ("sf01_xx60", SRC, {"bits": 60, "bands": 4, "bit_hash": "xxhash"}),
        ("xN_xx60", X10, {"bits": 60, "bands": 4, "bit_hash": "xxhash"}),
    ):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        t0 = time.perf_counter()
        n_pairs = simhash_neardup_pairs(docs, max_hamming=3, n=2, **kw).count()
        out[key] = {"sec": round(time.perf_counter() - t0, 2), "pairs": n_pairs}
        spark.catalog.clearCache()
    out["ratio_xx60"] = _ratio(out["sf01_xx60"]["sec"], out["xN_xx60"]["sec"])
    return out


def _heap_stats(spark) -> dict:
    """Executor-memory attribution for the local-mode stress runs
    (VERDICT r11 Next #4): in ``local[32]`` the single JVM hosts every
    executor thread, so 'driver memory' is really executor cache +
    shuffle + unroll heap. The UI REST /executors endpoint separates
    the components: storage memoryUsed (cached generations), peak
    on-heap execution (shuffle/aggregate buffers), peak JVM heap."""
    try:
        import urllib.request
        import json as _json

        ui = spark.sparkContext.uiWebUrl
        apps = _json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications")
        )
        ex = _json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{apps[0]['id']}/executors"
            )
        )
        drv = next(e for e in ex if e["id"] == "driver")
        peak = drv.get("peakMemoryMetrics", {}) or {}
        mb = 1 << 20
        return {
            "storage_memory_used_mb": round(drv.get("memoryUsed", 0) / mb),
            "peak_jvm_heap_mb": round(peak.get("JVMHeapMemory", 0) / mb),
            "peak_onheap_execution_mb": round(
                peak.get("OnHeapExecutionMemory", 0) / mb
            ),
            "peak_onheap_storage_mb": round(
                peak.get("OnHeapStorageMemory", 0) / mb
            ),
        }
    except Exception as e:  # UI disabled / endpoint shape drift
        return {"err": str(e)}


def _game_frame(spark, sf_dir: str) -> DataFrame:
    """The m3 gate query's training frame shape over any dataset dir:
    one fixed + one per-supplier coordinate on two DIFFERENT feature
    shards (qty / disc — the r9 2-shard flagship shape), gaussian
    response."""
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.concat_ws(
            "|", "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"
        ).alias("uid"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
        F.lit(0.0).alias("offset"),
        F.lit(1.0).alias("weight"),
        F.col("l_suppkey").cast("string").alias("suppkey"),
        F.array(F.lit(0).cast("long")).alias("qty_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("qty_values"),
        F.array(F.lit(0).cast("long")).alias("disc_indices"),
        F.array(F.round(F.col("l_discount") * 100, 0)).alias("disc_values"),
    )


def run_game(spark) -> dict:
    """Scale evidence for the FULL coordinate-descent training loop —
    the reference's flagship (GameTrainingDriver.scala:363-516,
    CoordinateDescent.scala:132-166): multi-coordinate CD with J11
    incremental summed-score maintenance and per-coordinate validation,
    measured at sf0.1, at the x{F} replica set, and on the skewed set
    (one entity owning ~30% of all rows) both WITHOUT the T2
    ``active_cap`` rail and WITH it (cap=10k; scoring still covers
    every row — only the per-entity fit sample is bounded).

    Expected shapes (written before running): x{F} near-linear (the
    loop is 2 fixed fits + 2 random-effect fit rounds + 4 score joins
    + 4 validation scans, all shuffle-on-key); skew uncapped slower
    but ALIVE (the multi-million-row Arrow group); skew capped within
    ~2x of the uniform x{F} time."""
    from photon_ml_spark.ml.coordinate_descent import (
        CoordinateConfig,
        train_game,
    )

    def coords(cap):
        return [
            CoordinateConfig(
                name="global", kind="fixed", dim=1,
                indices_col="qty_indices", values_col="qty_values",
            ),
            CoordinateConfig(
                name="per_supplier", kind="random", dim=1,
                entity_col="suppkey", reg_param=10.0, active_cap=cap,
                indices_col="disc_indices", values_col="disc_values",
            ),
        ]

    def evaluator(scored: DataFrame) -> dict:
        row = scored.agg(
            F.sqrt(F.avg((F.col("response") - F.col("score")) ** 2)).alias(
                "rmse"
            )
        ).first()
        return {"rmse": round(float(row.rmse), 6)}

    out: dict = {}
    cases = [
        ("sf01_uncapped", SRC, None),
        (f"x{FACTOR}_uncapped", X10, None),
        (f"skew{FACTOR}_uncapped", SKEW, None),
        (f"skew{FACTOR}_cap10k", SKEW, 10_000),
    ]
    for key, d, cap in cases:
        li = _game_frame(spark, d)
        # deterministic 90/10 train/validation split on the row key
        is_val = F.pmod(F.xxhash64("uid"), F.lit(10)) == 0
        train, val = li.filter(~is_val), li.filter(is_val)
        t0 = time.perf_counter()
        model, history = train_game(
            train, coordinates=coords(cap), family="gaussian",
            n_iterations=2, validation_df=val, evaluator=evaluator,
        )
        n_models = model.coordinates["per_supplier"].count()
        out[key] = {
            "sec": round(time.perf_counter() - t0, 2),
            "entities": n_models,
            "updates": len(history),
            "final_rmse": history[-1]["metrics"]["rmse"],
            "heap": _heap_stats(spark),
        }
    base = out["sf01_uncapped"]["sec"]
    out["ratios_vs_sf01"] = {
        k: _ratio(base, v["sec"]) for k, v in out.items() if "sec" in v
    }
    return out


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from photon_ml_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="photon-ml-spark-stress", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("WARN")
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode in ("build", "all"):
        build(spark)
    if mode in ("run", "all"):
        result = run(spark)
        print(json.dumps(result))
    if mode in ("game", "all"):
        print(json.dumps({"game": run_game(spark)}))
    if mode == "x21":
        print(json.dumps({"x21": run_x21(spark)}))
    if mode == "x6":
        print(json.dumps({"x6": run_x6(spark)}))
    if mode == "simhash":
        print(json.dumps({"simhash_wide": run_simhash_wide(spark)}))
    spark.stop()


if __name__ == "__main__":
    main()
