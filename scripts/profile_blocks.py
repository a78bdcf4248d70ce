"""Per-job profiling for bench blocks (guide §1.5/§7.1): run selected
bench rows with setJobDescription labels, then pull per-job wall times
from the UI REST API so block seconds decompose into Spark jobs (and
scheduling gaps show up as label time minus job time).

Usage: python scripts/profile_blocks.py [row ...]
Rows: flagship curate train_game or any registry name. Writes a
per-label summary to stdout.
"""

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from photon_ml_spark.materialize import scope
    from photon_ml_spark.queries import all_queries
    from photon_ml_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="profile-blocks", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("WARN")
    registry = all_queries()

    import bench

    rows = sys.argv[1:] or ["flagship"]
    # warmup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).groupBy(
        "l_returnflag"
    ).count().collect()

    labels: dict[str, float] = {}

    def run_labeled(label, thunk):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        thunk()
        labels[label] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    seen: dict[str, int] = {}
    for row in rows:
        # repeated rows get distinct labels (row, row#2, ...) so their
        # jobs don't aggregate into one line
        seen[row] = seen.get(row, 0) + 1
        label = row if seen[row] == 1 else f"{row}#{seen[row]}"
        with scope():
            if row == "flagship":
                run_labeled(label, lambda: bench.run_flagship(spark, sf_dir))
            elif row == "curate":
                run_labeled(label, lambda: bench.run_curate(spark, sf_dir))
            elif row == "train_game":
                run_labeled(
                    label, lambda: bench.run_train_game(spark, sf_dir)
                )
            else:
                spec = registry[row]

                def thunk(spec=spec):
                    df = spec.run(spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()

                run_labeled(label, thunk)

    # ---- pull job-level metrics from the UI REST API
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
    ) as r:
        jobs = json.loads(r.read())

    from collections import defaultdict
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    agg = defaultdict(lambda: [0, 0.0])
    per_label_jobs = defaultdict(list)
    for j in jobs:
        d = j.get("description") or "(none)"
        dur = ts(j["completionTime"]) - ts(j["submissionTime"])
        agg[d][0] += 1
        agg[d][1] += dur
        per_label_jobs[d].append((round(dur, 3), j.get("name", "")[:90]))

    print("\n==== per-label summary ====")
    for label, wall in labels.items():
        n, tot = agg.get(label, [0, 0.0])
        print(
            f"{label}: wall={wall}s jobs={n} job_time={round(tot, 2)}s "
            f"gap={round(wall - tot, 2)}s"
        )
    print("\n==== per-label job list (slowest first) ====")
    for label in labels:
        print(f"-- {label}")
        for dur, name in sorted(per_label_jobs.get(label, []), reverse=True)[:25]:
            print(f"   {dur:8.3f}s  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
