"""Multi-JVM smoke run (VERDICT r9 Next #5): everything else in the
bench/test surface executes in ONE JVM (local[N]), which cannot
exercise executor-to-executor shuffle serialization, broadcast
transport, or Python-worker module resolution on a remote executor.
This script runs the flagship GAME pipeline and the x6 minhash block
(shuffle-heavy: explode -> band join -> exact verify) under
``local-cluster[2,2,<mem>]`` — two separate executor JVMs with their
own Python workers — and cross-checks the row-level results against a
plain ``local[4]`` run of the SAME code.

    python scripts/multi_jvm_smoke.py [sf_dir]
    DELIVERY=wheel python scripts/multi_jvm_smoke.py [sf_dir]

``DELIVERY=wheel`` ships the package to executors as the BUILT WHEEL
(scripts/build_wheel.py + ``sc.addPyFile`` — the ``--py-files``
production delivery) instead of ``spark.executorEnv.PYTHONPATH``, and
records each executor Python worker's resolved module origin: the
smoke fails if any worker imported photon_ml_spark from the repo tree
rather than the shipped artifact.

Prints one JSON line: timings + equality verdicts. A serialization or
classpath bug (e.g. a closure capturing a non-picklable handle, a
module import that only resolves in the driver) fails loudly here and
nowhere else.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _session(master: str, wheel: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(master)
        .appName(f"mjvm-smoke-{master.split('[')[0]}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executor.memory", "3g")
    )
    # executor Python workers must import photon_ml_spark (pandas UDF
    # bodies reference it by module). Two deliveries, both exercised:
    # PYTHONPATH (a baked image) or the built wheel via addPyFile
    # (--py-files — the spark-submit production path).
    if wheel is None:
        b = b.config("spark.executorEnv.PYTHONPATH", REPO)
    spark = b.getOrCreate()
    if wheel is not None:
        # pyspark's addPyFile include filter is PACKAGE_EXTENSIONS =
        # (.zip, .egg, .jar) — a .whl SHIPS but never joins worker
        # sys.path (context.py:1989). Wheels ARE zipimport-able, so
        # stage the byte-identical artifact under a .zip alias; the
        # same trick production --py-files deployments use.
        import shutil

        alias = wheel + ".zip"
        shutil.copyfile(wheel, alias)
        spark.sparkContext.addPyFile(alias)
    return spark


def _executor_module_origins(spark) -> set[tuple]:
    """Per-executor proof the SHIPPED WHEEL is self-sufficient: the box
    carries a dev-time editable install (site-packages easy-install.pth
    → the repo tree), so the in-worker import may be served by that
    instead of the artifact. Each worker therefore re-imports in a
    ``python -S`` SUBPROCESS — no site processing, so .pth files are
    ignored and the repo tree is unreachable — with sys.path = [the
    addPyFile-staged wheel, site-packages (deps only; appending a dir
    manually does NOT process its .pth files)]. The import can only be
    served by the wheel."""
    def probe(_it):
        import subprocess
        import sys

        import os

        whl = next(
            (
                os.path.abspath(p)
                for p in sys.path
                if p.endswith((".whl", ".whl.zip"))
            ),
            None,
        )
        site = next(
            (p for p in sys.path if p.endswith("site-packages")), None
        )
        if whl is None or site is None:
            yield (99, "", f"missing path entry; sys.path={sys.path!r}")
            return
        code = (
            "import sys;"
            f"sys.path[:0] = [{whl!r}, {site!r}];"
            "import photon_ml_spark;"
            "import photon_ml_spark.datamodel;"
            "print(photon_ml_spark.__file__)"
        )
        r = subprocess.run(
            [sys.executable, "-S", "-c", code],
            capture_output=True, text=True, timeout=120,
        )
        yield (r.returncode, r.stdout.strip(), r.stderr[-300:])

    n = spark.sparkContext.defaultParallelism
    return set(
        spark.sparkContext.parallelize(range(n), n).mapPartitions(probe)
        .collect()
    )


def _flagship_rows(spark, sf_dir: str):
    """The flagship fit + score, returning a comparable result set
    (rounded scores per uid) instead of just a count."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from photon_ml_spark.datamodel import FeatureShardConfig
    from photon_ml_spark.materialize import persist, release
    from photon_ml_spark.ml import glm, scoring
    from photon_ml_spark.sources import datasets, featurize

    training = persist(
        datasets.lineitem_training_frame(spark, sf_dir, uid_strategy="stable"),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    dictionary = persist(
        featurize.build_feature_dictionary(
            training, ["features"], has_intercept=True
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    shard = FeatureShardConfig("features", ["features"])
    assembled = persist(
        featurize.assemble_shard(
            training, dictionary, shard, strategy="map"
        ).select(
            "uid", "response", "offset", "weight",
            "features_indices", "features_values",
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    model = glm.fit_fixed_effect(assembled, dim=5, family="binomial")
    scored = scoring.score_literal(assembled, model)
    rows = {
        (r.uid, round(r.score, 6))
        for r in scored.select("uid", "score").collect()
    }
    release(assembled)
    release(dictionary)
    release(training)
    return rows


def _avro_rows(spark):
    """Pure-Python OCF decode + schema-resolution adapter on EXECUTOR
    Python workers (reads the reference's wide-union heart.avro) —
    validates the decode closures cloudpickle across the JVM boundary."""
    from pyspark.sql import functions as F

    from photon_ml_spark.sources.avro_io import read_training_examples

    df = read_training_examples(
        spark,
        "/root/reference/photon-client/src/integTest/resources/"
        "DriverIntegTest/input/heart.avro",
    )
    return {
        (r.response, r.name, r.value)
        for r in df.select(
            "response", F.explode("features").alias("f")
        ).select("response", "f.name", "f.value").collect()
    }


def _minhash_rows(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from photon_ml_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_dedup(
        docs, threshold=0.5, n=2, num_hashes=16, bands=4
    )
    return {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in pairs.select("id_a", "id_b", "jaccard").collect()
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    delivery = os.environ.get("DELIVERY", "pythonpath")
    wheel = None
    if delivery == "wheel":
        from scripts.build_wheel import build_wheel

        wheel = build_wheel(os.path.join(REPO, "dist"))
    out: dict = {"sf_dir": sf_dir, "delivery": delivery, "wheel": wheel}
    results: dict[str, dict] = {}
    for label, master in (
        ("local", "local[4]"),
        ("local_cluster", "local-cluster[2,2,3072]"),
    ):
        spark = _session(master, wheel=wheel)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            t0 = time.perf_counter()
            flag = _flagship_rows(spark, sf_dir)
            t1 = time.perf_counter()
            mh = _minhash_rows(spark, sf_dir)
            t2 = time.perf_counter()
            av = _avro_rows(spark)
            t3 = time.perf_counter()
            results[label] = {"flagship": flag, "minhash": mh, "avro": av}
            out[f"{label}_flagship_sec"] = round(t1 - t0, 3)
            out[f"{label}_minhash_sec"] = round(t2 - t1, 3)
            out[f"{label}_avro_sec"] = round(t3 - t2, 3)
            out[f"{label}_executors"] = (
                spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
            )
            if wheel is not None and label == "local_cluster":
                origins = _executor_module_origins(spark)
                out["executor_module_origins"] = sorted(
                    o[1] or o[2] for o in origins
                )
                # every worker subprocess imported cleanly, from a
                # .whl-served path, never the repo tree
                out["wheel_served_imports"] = all(
                    rc == 0 and ".whl" in path
                    and not path.startswith(REPO + "/photon")
                    for rc, path, _err in origins
                )
        finally:
            spark.stop()
    out["flagship_rows"] = len(results["local"]["flagship"])
    out["minhash_pairs"] = len(results["local"]["minhash"])
    out["flagship_equal"] = (
        results["local"]["flagship"] == results["local_cluster"]["flagship"]
    )
    out["minhash_equal"] = (
        results["local"]["minhash"] == results["local_cluster"]["minhash"]
    )
    out["avro_rows"] = len(results["local"]["avro"])
    out["avro_equal"] = (
        results["local"]["avro"] == results["local_cluster"]["avro"]
    )
    print(json.dumps(out))
    ok = out["flagship_equal"] and out["minhash_equal"] and out["avro_equal"]
    if wheel is not None:
        ok = ok and out.get("wheel_served_imports", False)
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
