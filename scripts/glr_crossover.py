"""GLR↔distributed-LBFGS crossover measurement (VERDICT r11 Next #8).

``fit_fixed_effect`` auto-routes a pure-L2 fit three ways: GLR's IRLS
in numpy on the driver while the fit has at most
``LOCAL_FIT_MAX_CELLS`` cells (rows × (dim + 1) + dim²); spark.ml GLR (IRLS —
JVM-side normal equations, O(dim²) per iteration, hard-capped at 4096
features by WeightedLeastSquares) above that, up to
``GLR_MAX_FEATURES``; the distributed LBFGS solver (O(dim)
treeAggregate gradient passes) past it. At the default ROWS every
measured dim is above the local bound, so ``glr`` times spark.ml GLR
(the frame's row count goes in as ``num_rows``, so no bounded collect
runs first); each fit records its ``route``. This
script measures fit wall time vs dim for BOTH engines on the same
synthetic frame so users sizing wide shards know what each engine
costs where — the number behind the routing constant.

Construction: ROWS rows, 16 nonzeros per row (one per dim/16 stripe —
distinct indices by construction), deterministic hash-derived values,
response = Σ v·cos(index) + intercept (a real signal both engines
recover), gaussian family, reg 0.01. All expression-level — no Python
in the data path.

    python scripts/glr_crossover.py           # dims 256..16384
    ROWS=200000 DIMS=1024,4096 python ...

One JSON line: {"rows": N, "fits": {dim: {engine: {sec, iters}}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

ROWS = int(os.environ.get("ROWS", "200000"))
DIMS = [
    int(d)
    for d in os.environ.get("DIMS", "256,1024,2048,4096,8192,16384").split(",")
]
NNZ = 16


def synth_frame(spark, dim: int):
    stripe = dim // NNZ
    base = spark.range(ROWS)
    idx_cols = [
        (F.lit(j * stripe) + F.pmod(F.xxhash64("id", F.lit(j)), F.lit(stripe)))
        .cast("long")
        for j in range(NNZ)
    ]
    val_cols = [
        (F.pmod(F.xxhash64(F.lit(j), "id"), F.lit(1000)) / 500.0 - 1.0)
        for j in range(NNZ)
    ]
    df = base.select(
        F.array(*idx_cols).alias("features_indices"),
        F.array(*val_cols).alias("features_values"),
    )
    signal = F.aggregate(
        F.zip_with(
            "features_indices", "features_values",
            lambda i, v: v * F.cos(i.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.select(
        "features_indices", "features_values",
        (signal + 0.25).alias("response"),
    )


def main() -> None:
    from pyspark.storagelevel import StorageLevel

    from photon_ml_spark.materialize import persist, release
    from photon_ml_spark.ml import glm
    from photon_ml_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="glr-crossover", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"rows": ROWS, "nnz": NNZ, "fits": {}}
    glr_cap = glm.GLR_MAX_FEATURES
    for dim in DIMS:
        df = persist(synth_frame(spark, dim), StorageLevel.MEMORY_AND_DISK_DESER)
        n = df.count()
        cell: dict = {}
        engines = []
        if dim <= glr_cap:
            engines.append(("glr", glr_cap))
        engines.append(("lbfgs", 0))  # cap 0 forces the custom solver
        for label, cap in engines:
            glm.GLR_MAX_FEATURES = cap
            try:
                t0 = time.perf_counter()
                m = glm.fit_fixed_effect(
                    df, dim=dim, family="gaussian", reg_param=0.01,
                    weight_col=None, offset_col=None, max_iter=50,
                    num_rows=n,
                )
                cell[label] = {
                    "sec": round(time.perf_counter() - t0, 2),
                    "iters": m.meta.get("iterations"),
                    "route": m.meta.get("route", m.meta.get("optimizer")),
                }
            finally:
                glm.GLR_MAX_FEATURES = glr_cap
        out["fits"][str(dim)] = cell
        print(f"dim={dim}: {cell}", file=sys.stderr)
        release(df)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
