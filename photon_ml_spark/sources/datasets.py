"""Derive GAME-style training frames from the driver's synthetic tables.

The reference trains on Avro rows carrying (name, term, value) feature
arrays (TrainingExampleAvro.avsc). We derive an equivalent frame from
the TPC-H-ish testdata so every pipeline stage is exercised on real
parquet: label from ``l_returnflag``, numeric line-item measures as a
feature bag, customer/supplier keys as random-effect id tags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a scan UP to the session's default
    parallelism when the source yielded fewer splits.

    Spark's scan parallelism is file-split-based, so a small/single-
    row-group file becomes ONE task — and every per-row expression
    upstream of the first shuffle (tokenization, shingling, PII
    regexes: the CPU-expensive document transforms) runs single-
    threaded regardless of core count. The reference controls the same
    hazard with an explicit minimum input-split count
    (AvroUtils.scala:62-93 minPartitions). Guarded: a scan already at
    or above the target (every real block-sized dataset — a 100 TB
    corpus yields ~800k splits) passes through untouched, so this adds
    NO shuffle at scale; the repartition only fires on under-split
    inputs, where the shuffled bytes are small by construction."""
    spark = df.sparkSession
    if min_partitions is None:
        target = spark.sparkContext.defaultParallelism
    else:
        target = int(min_partitions)
        if target < 1:
            raise ValueError(
                f"min_partitions must be >= 1, got {min_partitions}"
            )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _ntv(name: str, term: str, value):
    """One (name, term, value) feature struct (FeatureAvro.avsc shape)."""
    return F.struct(
        F.lit(name).alias("name"), F.lit(term).alias("term"),
        value.cast("double").alias("value"),
    )


def read_libsvm(
    spark: SparkSession, path: str, num_features: int | None = None
) -> DataFrame:
    """S6 LibSVM text scan (deprecated in the reference:
    photon-client/.../io/deprecated/LibSVMInputDataFormat.scala:31-89).
    Spark-first this is the built-in ``libsvm`` data source — (label,
    features VectorUDT). ``num_features`` skips the extra pass that
    infers dimensionality."""
    reader = spark.read.format("libsvm")
    if num_features is not None:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def write_libsvm(df: DataFrame, path: str) -> None:
    """S6 LibSVM text sink: ``df`` must carry (label double, features
    VectorUDT). Zero-valued entries are dropped by the format itself —
    round-trip fidelity holds for nonzero features only (inherent to
    LibSVM, not this writer)."""
    df.select("label", "features").write.format("libsvm").mode(
        "overwrite"
    ).save(path)


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event timestamp to a microsecond TIMESTAMP.

    events.parquet has shipped with either TIMESTAMP(MICROS) (read
    natively as timestamp — no-op here) or TIMESTAMP(NANOS) (read as
    long nanos under the ``nanosAsLong`` legacy flag). A stream reader
    with an explicit ``ts long`` schema also lands here with raw epoch
    longs in whichever unit the file stores. The unit is detected by
    magnitude — epoch micros for years 1971..2200 are < 1e16 while
    epoch nanos for the same range are > 1e16 — so both generations of
    the test data (and both batch/stream read paths) converge on the
    same timestamps."""
    if dict(df.dtypes).get(ts_col) == "bigint":
        # integer div: nanos exceed double's 53-bit mantissa, so `/ 1000`
        # (double division) would corrupt the low microseconds
        micros = F.when(
            F.abs(F.col(ts_col)) >= F.lit(10**16),
            F.expr(f"{ts_col} div 1000"),
        ).otherwise(F.col(ts_col))
        # magnitude detection is only sound for 1971..2200: epoch nanos
        # before ~Apr 1970 read as micros, micros after ~2286 read as
        # nanos. Outside the window fail fast instead of silently
        # picking a unit (zero extra passes — the guard rides the same
        # projection).
        lo = 31_536_000 * 10**6          # 1971-01-01 in epoch micros
        hi = 7_258_118_400 * 10**6       # 2200-01-01 in epoch micros
        micros = F.when(
            (micros < F.lit(lo)) | (micros > F.lit(hi)),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ambiguous epoch magnitude in '{ts_col}' (unit "
                        "detection supports 1971..2200 only): "
                    ),
                    F.col(ts_col).cast("string"),
                )
            ).cast("long"),
        ).otherwise(micros)
        df = df.withColumn(ts_col, F.timestamp_micros(micros))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_event_ts(load_table(spark, sf_dir, "events"))


def project_game_datum(
    df: DataFrame,
    id_tags: list[str],
    uid_col: str = "uid",
    response_col: str | None = "response",
    offset_col: str = "offset",
    weight_col: str = "weight",
    metadata_col: str = "metadataMap",
) -> DataFrame:
    """DataFrame → GAME-datum projection (P1, GameConverters.scala:44-172).

    Keeps uid/response/offset/weight (offset defaults 0.0, weight 1.0
    when absent — GameDatum.scala:37-42 Option semantics) and resolves
    each id tag as ``coalesce(tag column, metadataMap[tag])``
    (GameConverters.scala:167-169 metadataMap fallback).
    """
    cols = [F.col(uid_col)]
    if response_col is not None:
        cols.append(F.col(response_col).cast("double").alias("response"))
    cols.append(
        (F.coalesce(F.col(offset_col), F.lit(0.0)).cast("double")
         if offset_col in df.columns else F.lit(0.0)).alias("offset")
    )
    cols.append(
        (F.coalesce(F.col(weight_col), F.lit(1.0)).cast("double")
         if weight_col in df.columns else F.lit(1.0)).alias("weight")
    )
    has_map = metadata_col in df.columns
    for tag in id_tags:
        explicit = F.col(tag) if tag in df.columns else F.lit(None).cast("string")
        fallback = (
            F.element_at(F.col(metadata_col), tag) if has_map
            else F.lit(None).cast("string")
        )
        cols.append(F.coalesce(explicit, fallback).alias(tag))
    return df.select(*cols)


def daily_paths(
    spark: SparkSession, start: str, end: str, root: str = "daily"
) -> DataFrame:
    """Inclusive date range → one row per day with its ``root/yyyy/MM/dd``
    input path (S7/F4, IOUtils.scala:115-164 + DateRange/DaysRange).
    In the rebuild these are partition values, so a date predicate
    prunes partitions instead of listing directories."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    ).select(
        "day",
        F.concat(F.lit(root + "/"), F.date_format("day", "yyyy/MM/dd")).alias("path"),
    )


def lineitem_training_frame(
    spark: SparkSession, sf_dir: str, uid_strategy: str = "stable",
    pre_repartition: int | None = None,
) -> DataFrame:
    """lineitem ⋈ orders → (uid, response, offset, weight, tags, features).

    - ``uid``: ``uid_strategy='monotonic'`` is the engine path
      (``monotonically_increasing_id`` — P2, GameConverters.scala:62
      zipWithUniqueId equivalent; no shuffle, no global sort).
      ``'stable'`` assigns row_number over a unique ordering — needed
      only where tests/oracles compare per-row values across runs; the
      global-window sort makes it test scaffolding, not a 100 TB
      ingest pattern.
    - ``response``: 1.0 when the line was returned (l_returnflag = 'R').
    - feature bag ``features``: scaled numeric measures.
    - id tags: ``suppkey`` / ``custkey`` for per-entity (random-effect)
      coordinates.
    - ``pre_repartition``: spread the RAW scan across N partitions
      BEFORE the join/featurization so the bag-building projection
      runs at full parallelism (a post-hoc ``.repartition`` exchanges
      the already-projected wide rows and leaves the projection at the
      scan's split count — measured ~2x slower on single-row-group
      files). On real block-sized files the scan yields enough splits
      and this is a no-op to remove.
    """
    li = load_table(spark, sf_dir, "lineitem")
    if pre_repartition:
        li = li.repartition(pre_repartition)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    df = li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
    if uid_strategy == "monotonic":
        uid = F.monotonically_increasing_id()
    else:
        uid_order = Window.orderBy(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
        )
        uid = F.row_number().over(uid_order).cast("long")
    return df.select(
        uid.alias("uid"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
        F.lit(0.0).alias("offset"),
        F.lit(1.0).alias("weight"),
        F.col("l_suppkey").cast("string").alias("suppkey"),
        F.col("o_custkey").cast("string").alias("custkey"),
        F.array(
            _ntv("li", "qty", F.col("l_quantity") / 50.0),
            _ntv("li", "price", F.col("l_extendedprice") / 100000.0),
            _ntv("li", "discount", F.col("l_discount")),
            _ntv("li", "tax", F.col("l_tax")),
            _ntv("ord", "total", F.col("o_totalprice") / 500000.0),
        ).alias("features"),
    )
