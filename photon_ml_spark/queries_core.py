"""Oracle-checked queries for the core dataflow operators (SURVEY §2.1–2.7).

Numbering follows SURVEY.md §2 (S=scan, P=projection/filter, J=join,
A=aggregation, T=top-k, U=set-op, F=scalar). Float outputs are rounded
on both sides (see queries.py docstring).

Determinism notes:
- Sampling operators use key-modulo gates here (oracle-computable in
  any engine); the production samplers in operators/sampling.py use
  seeded xxhash64 — same semantics, engine-specific hash.
- Top-k / reservoir ordering uses uid as tie-break; production uses
  xxhash64(uid) ordering (RandomEffectDataset.scala:504-511 byteswap64
  equivalent).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from photon_ml_spark.datamodel import INTERCEPT_KEY
from photon_ml_spark.queries import _t, r6, register

# --------------------------------------------------------------------- scans


@register(
    "s3_feature_dictionary",
    oracle="""
WITH keys AS (
  SELECT DISTINCT 'brand' || CHR(1) || p_brand AS feature_key FROM part
  UNION SELECT DISTINCT 'type' || CHR(1) || p_type FROM part
  UNION SELECT DISTINCT 'size' || CHR(1) || CAST(p_size AS VARCHAR) FROM part
)
SELECT 'dict' AS variant, feature_key,
       CAST(ROW_NUMBER() OVER (ORDER BY feature_key) - 1 AS BIGINT) AS feature_index
FROM keys
UNION ALL
SELECT 'dict', '(INTERCEPT)', (SELECT COUNT(*) FROM keys)
UNION ALL
SELECT 'hashed', feature_key,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(feature_key) + 1),
                          i -> CAST(ascii(substr(feature_key, i, 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007
       ) % 1024
FROM keys
""",
)
def s3_feature_dictionary(spark, sf_dir):
    """S3/S4/U1/U2/F1 feature-index suite in ONE gate row. 'dict':
    distinct feature keys -> deterministic dense index + intercept slot
    (the reference's in-memory/PalDB dictionary). 'hashed': the
    hashing-trick mapping hash(key) mod 1024 for the SAME keys — the
    dictionary-FREE scale path (assemble_shard_hashed) for 100M+ feature
    spaces where even building a dictionary is prohibitive; the
    polynomial codepoint hash is deliberately portable, replayed exactly
    by a DuckDB list_reduce"""
    from photon_ml_spark.sources.featurize import (
        build_feature_dictionary,
        hashed_feature_index,
    )

    part = _t(spark, sf_dir, "part").select(
        F.array(
            F.struct(F.lit("brand").alias("name"), F.col("p_brand").alias("term"),
                     F.lit(1.0).alias("value")),
            F.struct(F.lit("type").alias("name"), F.col("p_type").alias("term"),
                     F.lit(1.0).alias("value")),
            F.struct(F.lit("size").alias("name"),
                     F.col("p_size").cast("string").alias("term"),
                     F.lit(1.0).alias("value")),
        ).alias("bag")
    )
    dict_rows = build_feature_dictionary(part, ["bag"], has_intercept=True)
    hashed = (
        dict_rows.filter(F.col("feature_key") != "(INTERCEPT)")
        .select(
            F.lit("hashed").alias("variant"),
            "feature_key",
            hashed_feature_index(F.col("feature_key"), 1024).alias(
                "feature_index"
            ),
        )
    )
    return (
        dict_rows.select(
            F.lit("dict").alias("variant"), "feature_key", "feature_index"
        ).unionByName(hashed)
    )


@register(
    "s1_avro_roundtrip_scan",
    oracle="""
SELECT 'avro' AS variant,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT) AS n_uids,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS label_sum,
       CAST(SUM(l_quantity) AS DOUBLE) AS qty_value_sum,
       CAST(SUM(2) AS BIGINT) AS n_features
FROM lineitem
WHERE l_suppkey < 10
UNION ALL
SELECT 'libsvm' AS variant,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(NULL AS BIGINT) AS n_uids,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS label_sum,
       CAST(SUM(l_quantity + l_linenumber) AS DOUBLE) AS qty_value_sum,
       CAST(SUM(2) AS BIGINT) AS n_features
FROM lineitem
WHERE l_suppkey < 10
""",
)
def s1_avro_roundtrip_scan(spark, sf_dir):
    """S1/S2/S6/S11 I/O round-trip suite: lineitem ->
    TrainingExampleAvro files (pure-Python OCF codec, deflate,
    distributed per-partition write) -> distributed Avro scan back ->
    aggregate; and lineitem -> LibSVM text sink -> built-in libsvm scan
    back -> aggregate. The oracle computes the same aggregates straight
    from parquet, so both encode/decode round trips must be value-exact
    (AvroDataReader.scala:85-208, TrainingExampleAvro.avsc;
    LibSVMInputDataFormat.scala:31-89). Integer-valued summands only
    (exactness convention)"""
    import os
    import tempfile

    from photon_ml_spark.sources import avro_io

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10).select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber"))
        .cast("string").alias("uid"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
        F.lit(1.0).alias("weight"),
        F.lit(0.0).alias("offset"),
        F.array(
            F.struct(F.lit("li").alias("name"), F.lit("qty").alias("term"),
                     F.col("l_quantity").cast("double").alias("value")),
            F.struct(F.lit("li").alias("name"), F.lit("flag").alias("term"),
                     F.lit(1.0).alias("value")),
        ).alias("features"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"photon_ml_spark_s1_{abs(hash(sf_dir)) % 10**8}",
    )
    avro_io.write_training_examples(li, path)
    back = avro_io.read_training_examples(spark, path)
    qty = F.filter("features", lambda s: s["term"] == F.lit("qty"))
    avro = back.agg(
        F.lit("avro").alias("variant"),
        F.count(F.lit(1)).alias("n_examples"),
        F.countDistinct("uid").alias("n_uids"),
        F.sum("response").alias("label_sum"),
        F.sum(F.element_at(qty, 1)["value"]).alias("qty_value_sum"),
        F.sum(F.size("features")).alias("n_features"),
    )

    # LibSVM round trip (S6): integer-valued nonzero features only —
    # the text format drops zeros and prints decimals, so exactness
    # holds exactly for this class of vectors
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from photon_ml_spark.sources.datasets import read_libsvm, write_libsvm

    svm_in = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10).select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        array_to_vector(
            F.array(
                F.col("l_quantity").cast("double"),
                F.col("l_linenumber").cast("double"),
            )
        ).alias("features"),
    )
    svm_path = path + "_libsvm"
    write_libsvm(svm_in, svm_path)
    svm_back = read_libsvm(spark, svm_path, num_features=2).select(
        "label", vector_to_array(F.col("features")).alias("fa")
    )
    libsvm = svm_back.agg(
        F.lit("libsvm").alias("variant"),
        F.count(F.lit(1)).alias("n_examples"),
        F.lit(None).cast("long").alias("n_uids"),
        F.sum("label").alias("label_sum"),
        F.sum(
            F.aggregate("fa", F.lit(0.0), lambda acc, x: acc + x)
        ).alias("qty_value_sum"),
        F.sum(
            F.size(F.filter("fa", lambda x: x != 0.0))
        ).cast("long").alias("n_features"),
    )
    return avro.unionByName(libsvm)


@register(
    "s7_date_range_scan",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       SUM(l_quantity) AS sum_qty,
       SUM(ROUND(l_extendedprice * 100)) / 10000000 AS sum_price_100k
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""",
)
def s7_date_range_scan(spark, sf_dir):
    """S7/F4: date-range predicate reaches the parquet scan
    (partition-pruning analog)"""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(F.round(F.col("l_extendedprice") * 100, 0)) / 10000000)
            .alias("sum_price_100k"),
        )
    )


@register(
    "s2_dup_feature_check",
    oracle="""
WITH ex AS (
  SELECT p_partkey, 'brand' || CHR(1) || p_brand AS feature_key FROM part
  UNION ALL
  SELECT p_partkey, 'size' || CHR(1) || CAST(p_size AS VARCHAR) FROM part
  UNION ALL
  SELECT p_partkey, 'brand' || CHR(1) || p_brand FROM part WHERE p_partkey % 10 = 0
)
SELECT p_partkey, feature_key, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM ex GROUP BY p_partkey, feature_key HAVING COUNT(*) > 1
""",
)
def s2_dup_feature_check(spark, sf_dir):
    """S2/F1: per-row duplicate-feature-key detection in a merged shard
    (AvroDataReader.scala:319-324 raises on duplicates); key uses the
    U+0001 separator"""
    from photon_ml_spark.sources.featurize import check_duplicate_features

    part = _t(spark, sf_dir, "part")
    brand = F.struct(
        F.lit("brand").alias("name"), F.col("p_brand").alias("term"),
        F.lit(1.0).alias("value"),
    )
    size = F.struct(
        F.lit("size").alias("name"), F.col("p_size").cast("string").alias("term"),
        F.lit(1.0).alias("value"),
    )
    # plant duplicates: every 10th part carries its brand feature twice
    bag = F.when(
        F.col("p_partkey") % 10 == 0, F.array(brand, size, brand)
    ).otherwise(F.array(brand, size))
    df = part.select("p_partkey", bag.alias("bag"))
    return check_duplicate_features(df, ["bag"], uid_col="p_partkey")


@register(
    "s5_nameterm_bags",
    oracle="""
SELECT 'part_attrs' AS bag, 'brand' AS name, p_brand AS term
FROM part GROUP BY p_brand
UNION ALL
SELECT 'part_attrs', 'type', p_type FROM part GROUP BY p_type
""",
)
def s5_nameterm_bags(spark, sf_dir):
    """S5: distinct (name, term) extraction per feature bag
    (NameAndTermFeatureBagsDriver.scala:148-180) — the vocabulary scan
    without index assignment"""
    part = _t(spark, sf_dir, "part").select(
        F.array(
            F.struct(F.lit("brand").alias("name"), F.col("p_brand").alias("term"),
                     F.lit(1.0).alias("value")),
            F.struct(F.lit("type").alias("name"),
                     F.col("p_type").alias("term"), F.lit(1.0).alias("value")),
        ).alias("part_attrs")
    )
    ex = part.select(F.explode("part_attrs").alias("f"))
    return (
        ex.select(
            F.lit("part_attrs").alias("bag"),
            F.col("f.name").alias("name"),
            F.col("f.term").alias("term"),
        ).distinct()
    )


P5_RANDOM_DOWNSAMPLE_SQL = """
WITH d AS (
  SELECT l_orderkey * 100 + l_linenumber AS uid FROM lineitem
)
SELECT uid
FROM d
WHERE CAST((48271 * ((uid + 7) % 2147483647)) % 2147483647 AS DOUBLE)
      / 2147483647.0 < 0.1
"""


def p5_random_downsample(spark, sf_dir):
    """P5: uniform seeded down-sample, keep when hash(uid, seed) < rate
    (DefaultDownSampler.scala:28-50; deterministic across retries, the
    byteswap64-seed discipline). Uses the engine-portable Park–Miller
    lcg_uniform — exact BIGINT arithmetic both engines — so the oracle
    reproduces the EXACT sampled row set, not just its size; production
    default stays xxhash64 (hash_uniform)"""
    from photon_ml_spark.operators.sampling import lcg_uniform, uniform_downsample

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("uid"),
    )
    out = uniform_downsample(
        li, rate=0.1, gate=lcg_uniform(F.col("uid"), 7) < 0.1
    )
    return out.select("uid")


@register(
    "f4_daily_paths",
    oracle="""
WITH days AS (
  SELECT CAST(unnest(generate_series(DATE '1996-03-01', DATE '1996-03-10',
                                     INTERVAL 1 DAY)) AS DATE) AS day
),
cnt AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT 'daily/' || strftime(d.day, '%Y/%m/%d') AS path,
       CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_orders
FROM days d LEFT JOIN cnt ON cnt.day = d.day
""",
)
def f4_daily_paths(spark, sf_dir):
    """S7/F4: inclusive date-range -> daily/yyyy/MM/dd path resolution
    (IOUtils.scala:115-164, DateRange/DaysRange) joined to per-day
    counts"""
    from photon_ml_spark.sources.datasets import daily_paths

    paths = daily_paths(spark, "1996-03-01", "1996-03-10")
    cnt = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.join(cnt, "day", "left").select(
        "path", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders")
    )


# ----------------------------------------------------------- filters/samplers


@register(
    "p4_data_validation",
    oracle="""
SELECT
  CAST(SUM(CASE WHEN o_orderkey % 139 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite_label,
  CAST(SUM(CASE WHEN o_orderkey % 113 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite_offset,
  CAST(SUM(CASE WHEN o_orderkey % 131 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive_weight,
  CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite_features,
  CAST(SUM(CASE WHEN o_orderkey % 139 = 0 OR o_orderkey % 127 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonbinary_label,
  CAST(SUM(CASE WHEN NOT (isfinite(o_totalprice)) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_price,
  CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_price,
  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
""",
)
def p4_data_validation(spark, sf_dir):
    """P4/F7: validator aggregate (DataValidators.scala:320-417 row-AND
    pattern) through the FULL standard_training_checks suite — finite
    label/offset, positive weight, binary label, and finite feature
    VECTOR (validateFeatures, DataValidators.scala:88-195; higher-order
    exists over the values array) — with NaN/Inf/zero/nonbinary
    violations injected at deterministic orderkey residues so every
    counter is exercised nonzero; the oracle mirrors the injection
    conditions"""
    from photon_ml_spark.operators.validation import (
        standard_training_checks,
        validation_report,
    )

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    staged = o.select(
        "o_totalprice",
        "o_orderstatus",
        F.when(k % 139 == 0, F.lit(float("nan")))
        .when(k % 127 == 0, F.lit(2.0))
        .otherwise((k % 2).cast("double"))
        .alias("response"),
        F.when(k % 113 == 0, F.lit(float("inf")))
        .otherwise(F.lit(0.0))
        .alias("offset"),
        F.when(k % 131 == 0, F.lit(0.0)).otherwise(F.lit(1.0)).alias("weight"),
        F.array(
            F.col("o_totalprice") / 1000.0,
            F.when(k % 97 == 0, F.lit(float("nan"))).otherwise(
                F.col("o_custkey").cast("double")
            ),
        ).alias("features_values"),
    )
    checks = standard_training_checks()
    checks.update(
        {
            "n_bad_price": ~(F.col("o_totalprice") == F.col("o_totalprice"))
            | F.col("o_totalprice").isin(float("inf"), float("-inf")),
            "n_neg_price": F.col("o_totalprice") < 0,
            "n_bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
        }
    )
    return validation_report(staged, checks)


@register(
    "p1_game_datum_projection",
    oracle="""
SELECT o_orderkey AS uid,
       o_totalprice / 500000.0 AS response,
       0.0 AS offset,
       1.0 AS weight,
       CASE WHEN o_orderkey % 3 = 0 THEN 'm:' || CAST(o_custkey AS VARCHAR)
            ELSE CAST(o_custkey AS VARCHAR) END AS custkey,
       o_orderpriority AS priority
FROM orders WHERE o_orderkey % 11 = 0
""",
)
def p1_game_datum_projection(spark, sf_dir):
    """P1/P2/F3: GameDatum projection — uid/response/offset/weight
    defaults plus id-tag resolution with metadataMap fallback
    (GameConverters.scala:44-172; tag fallback :167-169). The Spark side
    uses a real MapType column; the oracle reproduces the resolved
    values"""
    from photon_ml_spark.sources.datasets import project_game_datum

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    staged = o.select(
        F.col("o_orderkey").alias("uid"),
        (F.col("o_totalprice") / 500000.0).alias("response"),
        # every 3rd row loses its explicit tag -> must fall back to the map
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_custkey").cast("string"))
        .alias("custkey"),
        F.create_map(
            F.lit("custkey"), F.concat(F.lit("m:"), F.col("o_custkey").cast("string")),
            F.lit("priority"), F.col("o_orderpriority"),
        ).alias("metadataMap"),
    )
    return project_game_datum(staged, id_tags=["custkey", "priority"])


P6_STRATIFIED_DOWNSAMPLE_SQL = """
WITH labeled AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
         1.0 AS weight
  FROM lineitem
), sampled AS (
  SELECT label,
         CASE WHEN label = 1.0 THEN weight ELSE weight * 4.0 END AS weight
  FROM labeled
  WHERE label = 1.0 OR (l_orderkey * 31 + l_linenumber) % 4 = 0
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt, SUM(weight) AS weight_sum
FROM sampled GROUP BY label
"""


def p6_stratified_downsample(spark, sf_dir):
    """P6: keep positives, gate negatives at 1/4, rescale weight by 4
    (BinaryClassificationDownSampler.scala:32-70; deterministic key-mod
    gate; exact-representable rate so weight sums are order-independent)"""
    from photon_ml_spark.operators.sampling import stratified_downsample

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        F.lit(1.0).alias("weight"),
    )
    gate = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 4 == 0
    sampled = stratified_downsample(
        li, rate=0.25, label_col="label", weight_col="weight", gate=gate
    )
    return sampled.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("weight").alias("weight_sum"),
    )


@register(
    "p9_entity_support_filter",
    oracle="""
WITH support AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_entities
FROM orders WHERE o_custkey IN (SELECT o_custkey FROM support)
""",
)
def p9_entity_support_filter(spark, sf_dir):
    """P9: drop entities below support threshold via semi-join
    (RandomEffectDataset.scala:586-606)"""
    from photon_ml_spark.operators.sampling import filter_entities_by_support

    o = _t(spark, sf_dir, "orders")
    kept = filter_entities_by_support(o, "o_custkey", min_support=12)
    return kept.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_entities"),
    )


@register(
    "p8_pearson_topk",
    oracle="""
WITH f AS (
  SELECT l_suppkey AS entity,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
         unnest([
           {'feature': 'disc',    'x': ROUND(l_discount * 100)},
           {'feature': 'price_k', 'x': ROUND(l_extendedprice / 1000)},
           {'feature': 'qty',     'x': l_quantity}
         ], recursive := true) AS u
  FROM lineitem WHERE l_suppkey % 10 = 0
),
m AS (
  SELECT entity, feature,
         COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM f GROUP BY entity, feature
),
c AS (
  SELECT entity, feature,
         CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
              THEN (n*sxy - sx*sy)
                   / SQRT(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
              ELSE 0.0 END AS corr
  FROM m
),
r AS (
  SELECT entity, feature, corr,
         ROW_NUMBER() OVER (PARTITION BY entity ORDER BY ABS(corr) DESC, feature ASC) AS rk
  FROM c
)
SELECT CAST(entity AS BIGINT) AS entity, feature, ROUND(corr, 6) AS corr,
       CAST(rk AS INT) AS rk
FROM r WHERE rk <= 2
""",
)
def p8_pearson_topk(spark, sf_dir):
    """P8/T3: per-entity top-k features by |Pearson corr with label|
    from one-pass moments (LocalDataset.scala:103-129,180-260);
    integer-valued inputs keep moment sums exact so corr is
    bit-deterministic"""
    from photon_ml_spark.functions.stats import pearson_topk_features

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 10 == 0).select(
        F.col("l_suppkey").cast("long").alias("entity"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        F.col("l_quantity").alias("qty"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("price_k"),
        F.round(F.col("l_discount") * 100, 0).alias("disc"),
    )
    return pearson_topk_features(
        li, "entity", ["qty", "price_k", "disc"], "label", k=2
    ).withColumn("rk", F.col("rk").cast("int"))


# --------------------------------------------------------------------- joins


@register(
    "j1_residual_attach",
    oracle="""
WITH scores AS (
  SELECT l_orderkey AS uid, SUM(ROUND(l_extendedprice * l_discount)) / 10000 AS score
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderkey AS uid,
       0.0 + COALESCE(s.score, 0.0) AS offset
FROM orders o LEFT JOIN scores s ON o.o_orderkey = s.uid
""",
)
def j1_residual_attach(spark, sf_dir):
    """J1/J2: left-outer residual-score attach, missing->0, added to
    offset (FixedEffectDataset.scala:46-58)"""
    from photon_ml_spark.ml.scoring import attach_residual_offset

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("uid"), F.lit(0.0).alias("offset")
    )
    scores = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("uid"))
        .agg(
            (F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount"), 0)) / 10000)
            .alias("score")
        )
    )
    out = attach_residual_offset(o, scores)
    return out.select("uid", "offset")


@register(
    "j3_warmstart_classify",
    oracle="""
WITH d AS (
  SELECT CAST(o_custkey AS VARCHAR) AS entity
  FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8
),
m AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS entity
  FROM customer WHERE c_custkey % 5 < 2
),
j AS (
  SELECT COALESCE(d.entity, m.entity) AS entity,
         CASE WHEN d.entity IS NOT NULL AND m.entity IS NOT NULL THEN 'train_warm'
              WHEN d.entity IS NOT NULL THEN 'train_cold'
              ELSE 'copy' END AS status
  FROM d FULL OUTER JOIN m ON d.entity = m.entity
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_entities
FROM j GROUP BY status
""",
)
def j3_warmstart_classify(spark, sf_dir):
    """J3/J12: warm-start split via FULL OUTER join of data entities vs
    prior models -> train_warm | train_cold | copy
    (RandomEffectCoordinate.scala:243-292, fullOuterJoin :252)"""
    from photon_ml_spark.ml.random_effects import classify_warm_start
    from photon_ml_spark.operators.sampling import filter_entities_by_support

    data = filter_entities_by_support(
        _t(spark, sf_dir, "orders"), "o_custkey", min_support=8
    )
    prior = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 5 < 2)
    out = classify_warm_start(
        data, prior, entity_col="o_custkey", model_entity_col="c_custkey"
    )
    return out.groupBy("status").agg(F.count(F.lit(1)).alias("n_entities"))


@register(
    "j8_passive_anti_join",
    oracle="""
WITH ranked AS (
  SELECT l_suppkey, l_quantity,
         l_orderkey * 8 + l_linenumber AS uid,
         ROW_NUMBER() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_orderkey * 8 + l_linenumber, l_partkey, l_extendedprice
         ) AS rn
  FROM lineitem
)
SELECT CAST(l_suppkey AS BIGINT) AS entity,
       CAST(COUNT(*) AS BIGINT) AS passive_rows,
       SUM(l_quantity) AS passive_qty
FROM ranked WHERE rn > 200 GROUP BY l_suppkey
""",
)
def j8_passive_anti_join(spark, sf_dir):
    """J8/U3: passive data = all-data ANTI-JOIN active(capped) set
    (RandomEffectDataset.scala:631-640 subtractByKey)"""
    from photon_ml_spark.operators.sampling import per_entity_cap

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("entity"),
        "l_quantity",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        "l_partkey", "l_extendedprice",
    )
    active = per_entity_cap(
        li, entity_col="entity", cap=200, weight_col=None,
        order_cols=["uid", "l_partkey", "l_extendedprice"],
    )
    # uid is non-unique in the synthetic data; anti-join on the full
    # surrogate row identity (matches subtractByKey on UniqueSampleId).
    passive = li.join(
        active,
        ["entity", "uid", "l_partkey", "l_extendedprice"],
        "left_anti",
    )
    return passive.groupBy(F.col("entity").cast("long").alias("entity")).agg(
        F.count(F.lit(1)).alias("passive_rows"),
        F.sum("l_quantity").alias("passive_qty"),
    )


@register(
    "j11_score_add",
    oracle="""
WITH s1 AS (
  SELECT l_orderkey AS uid, SUM(l_quantity) AS score
  FROM lineitem WHERE l_linenumber % 2 = 0 GROUP BY l_orderkey
), s2 AS (
  SELECT l_orderkey AS uid, SUM(l_quantity) AS score
  FROM lineitem WHERE l_linenumber % 2 = 1 GROUP BY l_orderkey
)
SELECT COALESCE(s1.uid, s2.uid) AS uid,
       ROUND(COALESCE(s1.score, 0.0) + COALESCE(s2.score, 0.0), 6) AS score
FROM s1 FULL OUTER JOIN s2 ON s1.uid = s2.uid
""",
)
def j11_score_add(spark, sf_dir):
    """J11/U4: score-set '+' as full-outer-join arithmetic
    (DataScores.scala:29-54)"""
    from photon_ml_spark.ml.scoring import add_scores

    li = _t(spark, sf_dir, "lineitem")
    s1 = (
        li.filter(F.col("l_linenumber") % 2 == 0)
        .groupBy(F.col("l_orderkey").alias("uid"))
        .agg(F.sum("l_quantity").alias("score"))
    )
    s2 = (
        li.filter(F.col("l_linenumber") % 2 == 1)
        .groupBy(F.col("l_orderkey").alias("uid"))
        .agg(F.sum("l_quantity").alias("score"))
    )
    return add_scores(s1, s2).select("uid", r6(F.col("score")).alias("score"))


# --------------------------------------------------------------- aggregations


A4_FEATURE_STATS_SQL = """
WITH f AS (
  SELECT 'qty' AS feature, l_quantity AS x FROM lineitem
  UNION ALL SELECT 'price_r', ROUND(l_extendedprice) FROM lineitem
  UNION ALL SELECT 'disc_pct', ROUND(l_discount * 100) FROM lineitem
)
SELECT feature,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       SUM(x) / COUNT(*) AS mean,
       (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) / (COUNT(*) - 1) AS variance,
       MIN(x) AS min,
       MAX(x) AS max,
       SUM(ABS(x)) AS l1,
       SQRT(SUM(x * x)) AS l2,
       SUM(ABS(x)) / COUNT(*) AS mean_abs,
       CAST(SUM(CASE WHEN x <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz
FROM f GROUP BY feature
"""


def a4_feature_stats(spark, sf_dir):
    """A4: per-feature count/mean/var/min/max/L1/L2/meanAbs/nnz
    (FeatureDataStatistics.scala:59-138); integer-valued inputs keep
    sums exact so no rounding is needed"""
    from photon_ml_spark.functions.stats import feature_statistics

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("qty"),
        F.round(F.col("l_extendedprice"), 0).alias("price_r"),
        F.round(F.col("l_discount") * 100, 0).alias("disc_pct"),
    )
    return feature_statistics(li, ["qty", "price_r", "disc_pct"], round_digits=None)


@register(
    "a5_entity_cardinality",
    oracle="""
SELECT CAST(o_custkey AS BIGINT) AS entity, CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders GROUP BY o_custkey
ORDER BY cnt DESC, entity ASC LIMIT 100
""",
)
def a5_entity_cardinality(spark, sf_dir):
    """A5/T4: heaviest entities for partition planning
    (RandomEffectDatasetPartitioner.scala:129-136; uid tie-break for
    determinism)"""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").cast("long").alias("entity"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("entity"))
        .limit(100)
    )


A8_DATASET_STATS_SQL = """
WITH t AS (SELECT ROUND(o_totalprice * 100) AS cents FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       SUM(cents) / 10000000 AS response_sum_100k,
       SUM(cents) / COUNT(*) / 100 AS response_mean,
       SQRT((SUM(cents * cents) - SUM(cents) * SUM(cents) / COUNT(*))
            / (COUNT(*) - 1)) / 100 AS response_stddev
FROM t
"""


def a8_dataset_stats(spark, sf_dir):
    """A8: dataset summary (FixedEffectDataset.scala:124-136); integer
    cents keep sums exact across engines"""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).alias("cents")
    )
    n = F.count(F.lit(1))
    s1 = F.sum("cents")
    s2 = F.sum(F.col("cents") * F.col("cents"))
    return o.agg(
        n.alias("n"),
        (s1 / 10000000).alias("response_sum_100k"),
        (s1 / n / 100).alias("response_mean"),
        (F.sqrt((s2 - s1 * s1 / n) / (n - 1)) / 100).alias("response_stddev"),
    )


def _scored_lineitem(spark, sf_dir):
    """Deterministic margin for metric queries: pure IEEE arithmetic
    (no libm) so tie-groups agree bit-for-bit across engines."""
    return _t(spark, sf_dir, "lineitem").select(
        (
            F.col("l_discount") * 5.0
            - F.col("l_tax") * 3.0
            + F.col("l_quantity") / 25.0
            - 1.0
        ).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        (F.lit(1.0) + F.col("l_linenumber") / 10.0).alias("weight"),
    )


_SCORED_SQL = """
  SELECT l_discount * 5.0 - l_tax * 3.0 + l_quantity / 25.0 - 1.0 AS score,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
         1.0 + l_linenumber / 10.0 AS weight
  FROM lineitem
"""


A9_SCALAR_METRICS_SQL = f"""
WITH scored AS ({_SCORED_SQL})
SELECT
  ROUND(SQRT(SUM(weight * (score - label) * (score - label)) / SUM(weight)), 5) AS rmse,
  ROUND(SUM(weight * ABS(score - label)) / SUM(weight), 5) AS mae,
  ROUND(SUM(weight * (GREATEST(score, 0) + LN(1 + EXP(-ABS(score))) - label * score))
        / SUM(weight), 5) AS logistic_loss,
  CAST(COUNT(*) AS BIGINT) AS n
FROM scored
"""


def a9_scalar_metrics(spark, sf_dir):
    """A9/A12/A13: weighted RMSE/MAE/logistic loss in one pass
    (RMSEEvaluator.scala, LogisticLossEvaluator.scala, EvaluationSuite)"""
    from photon_ml_spark.functions import links

    s = _scored_lineitem(spark, sf_dir)
    w, sc, y = F.col("weight"), F.col("score"), F.col("label")
    d = sc - y
    return s.agg(
        F.round(F.sqrt(F.sum(w * d * d) / F.sum(w)), 5).alias("rmse"),
        F.round(F.sum(w * F.abs(d)) / F.sum(w), 5).alias("mae"),
        F.round(
            F.sum(w * links.logistic_loss(sc, y)) / F.sum(w), 5
        ).alias("logistic_loss"),
        F.count(F.lit(1)).alias("n"),
    )


A13_EVAL_SUITE_SQL = f"""
WITH scored AS ({{scored}})
SELECT
  ROUND(SQRT(SUM(weight * (score - label) * (score - label)) / SUM(weight)), 5) AS rmse,
  ROUND(SUM(weight * ABS(score - label)) / SUM(weight), 5) AS mae,
  ROUND(SUM(weight * (GREATEST(score, 0) + LN(1 + EXP(-ABS(score))) - label * score))
        / SUM(weight), 5) AS logistic_loss,
  ROUND(SUM(weight * (score - label) * (score - label) / 2) / SUM(weight), 5) AS squared_loss,
  ROUND(SUM(weight), 4) AS weight_sum,
  CAST(COUNT(*) AS BIGINT) AS n
FROM scored
""".format(scored="""
  SELECT l_discount * 5.0 - l_tax * 3.0 + l_quantity / 25.0 - 1.0 AS score,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
         1.0 + l_linenumber / 10.0 AS weight
  FROM lineitem
""")


def a13_eval_suite(spark, sf_dir):
    """A13 EvaluationSuite: ALL scalar metrics in one aggregation pass
    over one scan (EvaluationSuite.scala;
    CoordinateDescent.scala:312-333 runs this per coordinate update)"""
    from photon_ml_spark.functions.metrics import evaluation_suite

    s = _scored_lineitem(spark, sf_dir)
    out = evaluation_suite(s, weight="weight")
    return out.select(
        F.round(F.col("rmse"), 5).alias("rmse"),
        F.round(F.col("mae"), 5).alias("mae"),
        F.round(F.col("logistic_loss"), 5).alias("logistic_loss"),
        F.round(F.col("squared_loss"), 5).alias("squared_loss"),
        F.round(F.col("weight_sum"), 4).alias("weight_sum"),
        F.col("n"),
    )


A9B_LOSS_KERNELS_SQL = """
WITH s AS (
  SELECT l_discount * 2.0 - l_tax + 0.5 AS margin,
         CAST(l_linenumber AS DOUBLE) AS cnt,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
         1.0 + l_linenumber / 10.0 AS weight
  FROM lineitem
)
SELECT
  ROUND(SUM(weight * (EXP(margin) - cnt * margin)) / SUM(weight), 5) AS poisson_loss,
  ROUND(SUM(weight * (
    CASE WHEN (label * 2 - 1) * margin >= 1.0 THEN 0.0
         WHEN (label * 2 - 1) * margin <= 0.0 THEN 0.5 - (label * 2 - 1) * margin
         ELSE (1 - (label * 2 - 1) * margin) * (1 - (label * 2 - 1) * margin) / 2
    END)) / SUM(weight), 5) AS smoothed_hinge_loss,
  CAST(COUNT(*) AS BIGINT) AS n
FROM s
"""


def a9b_loss_kernels(spark, sf_dir):
    """A9: the remaining loss-evaluator kernels — weighted Poisson
    deviance part (PoissonLossEvaluator) and Rennie smoothed hinge
    (SmoothedHingeLossEvaluator) in one pass"""
    from photon_ml_spark.functions.metrics import loss_metric

    s = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_discount") * 2.0 - F.col("l_tax") + 0.5).alias("margin"),
        F.col("l_linenumber").cast("double").alias("cnt"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        (F.lit(1.0) + F.col("l_linenumber") / 10.0).alias("weight"),
    )
    p = loss_metric(s, "poisson", margin="margin", label="cnt", weight="weight")
    h = loss_metric(
        s, "smoothed_hinge", margin="margin", label="label", weight="weight"
    )
    n = s.agg(F.count(F.lit(1)).alias("n"))
    return (
        p.select(F.round(F.col("poisson_loss"), 5).alias("poisson_loss"))
        .crossJoin(
            h.select(
                F.round(F.col("smoothed_hinge_loss"), 5).alias("smoothed_hinge_loss")
            )
        )
        .crossJoin(n)
    )


A10_AUROC_SQL = f"""
WITH scored AS ({_SCORED_SQL}),
g AS (
  SELECT score AS s, SUM(weight * label) AS pos, SUM(weight * (1.0 - label)) AS neg
  FROM scored GROUP BY score
),
c AS (
  SELECT s, pos, neg,
         SUM(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS ctp,
         SUM(neg) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cfp
  FROM g
),
t AS (
  SELECT (cfp - COALESCE(LAG(cfp) OVER (ORDER BY s DESC), 0.0))
         * (ctp + COALESCE(LAG(ctp) OVER (ORDER BY s DESC), 0.0)) / 2.0 AS area,
         ctp, cfp
  FROM c
)
SELECT ROUND(SUM(area) / (MAX(ctp) * MAX(cfp)), 6) AS auroc FROM t
"""


def a10_auroc(spark, sf_dir):
    """A10: weighted AUROC as tie-grouped trapezoid sweep over window
    cumulative sums (AreaUnderROCCurveLocalEvaluator.scala:25-72)"""
    from photon_ml_spark.functions.metrics import auroc

    s = _scored_lineitem(spark, sf_dir)
    return auroc(s, weight="weight").select(r6(F.col("auroc")).alias("auroc"))


A10B_AUPR_SQL = f"""
WITH scored AS ({_SCORED_SQL}),
g AS (
  SELECT score AS s, SUM(weight * label) AS pos, SUM(weight * (1.0 - label)) AS neg
  FROM scored GROUP BY score
),
c AS (
  SELECT s,
         SUM(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS ctp,
         SUM(neg) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cfp
  FROM g
),
t AS (
  SELECT ctp,
         ctp / (ctp + cfp) AS prec,
         COALESCE(LAG(ctp) OVER (ORDER BY s DESC), 0.0) AS ptp,
         COALESCE(LAG(ctp / (ctp + cfp)) OVER (ORDER BY s DESC), 1.0) AS pprec
  FROM c
)
SELECT ROUND(SUM((ctp - ptp) * (prec + pprec) / 2.0) / MAX(ctp), 6) AS aupr
FROM t
"""


def a10b_aupr(spark, sf_dir):
    """A10: weighted area under the precision-recall curve, trapezoid
    over tie-grouped points, curve anchored at precision=1
    (AreaUnderPRCurveEvaluator)"""
    from photon_ml_spark.functions.metrics import aupr

    s = _scored_lineitem(spark, sf_dir)
    return aupr(s, weight="weight").select(r6(F.col("aupr")).alias("aupr"))


A11_GROUPED_PRECISION_AT_K_SQL = """
WITH scored AS (
  SELECT o_custkey AS grp, o_orderkey AS uid,
         o_totalprice AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS label
  FROM orders
),
ranked AS (
  SELECT grp, label,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, uid ASC) AS rn
  FROM scored
),
per_group AS (
  SELECT grp, AVG(label) AS precision_at_k FROM ranked WHERE rn <= 5 GROUP BY grp
)
SELECT ROUND(AVG(precision_at_k), 6) AS mean_precision_at_k,
       CAST(COUNT(*) AS BIGINT) AS n_groups
FROM per_group
"""


def a11_grouped_precision_at_k(spark, sf_dir):
    """A11/T5: per-group precision@5 then unweighted mean of groups
    (MultiEvaluator.scala:36-90, PrecisionAtKLocalEvaluator.scala:29-53)"""
    from photon_ml_spark.functions.metrics import precision_at_k_per_group

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("grp"),
        F.col("o_orderkey").alias("uid"),
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("label"),
    )
    pg = precision_at_k_per_group(o, k=5, group="grp")
    return pg.agg(
        F.round(F.avg("precision_at_k"), 6).alias("mean_precision_at_k"),
        F.count(F.lit(1)).alias("n_groups"),
    )


A11B_GROUPED_AUC_SQL = """
WITH scored AS (
  SELECT l_suppkey AS grp,
         l_discount * 5.0 - l_tax * 3.0 + l_quantity / 25.0 AS score,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label
  FROM lineitem
),
g AS (
  SELECT grp, score AS s, SUM(label) AS pos, SUM(1.0 - label) AS neg
  FROM scored GROUP BY grp, score
),
c AS (
  SELECT grp, s, pos, neg,
         SUM(pos) OVER (PARTITION BY grp ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS ctp,
         SUM(neg) OVER (PARTITION BY grp ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cfp
  FROM g
),
t AS (
  SELECT grp,
         (cfp - COALESCE(LAG(cfp) OVER (PARTITION BY grp ORDER BY s DESC), 0.0))
         * (ctp + COALESCE(LAG(ctp) OVER (PARTITION BY grp ORDER BY s DESC), 0.0)) / 2.0 AS area,
         ctp, cfp
  FROM c
),
pg AS (
  SELECT grp, SUM(area) AS sa, MAX(ctp) AS p, MAX(cfp) AS n
  FROM t GROUP BY grp HAVING MAX(ctp) > 0 AND MAX(cfp) > 0
)
SELECT ROUND(AVG(sa / (p * n)), 6) AS mean_group_auc,
       CAST(COUNT(*) AS BIGINT) AS n_groups
FROM pg
"""


def a11b_grouped_auc(spark, sf_dir):
    """A11 MultiAUC: per-group tie-grouped AUROC sweep (windows
    partitioned by group — one shuffle, no per-group collect), then the
    MultiEvaluator unweighted mean (MultiEvaluatorType.scala:52-66)"""
    from photon_ml_spark.functions.metrics import auroc_per_group, multi_metric_mean

    s = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("grp"),
        (
            F.col("l_discount") * 5.0 - F.col("l_tax") * 3.0
            + F.col("l_quantity") / 25.0
        ).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
    )
    pg = auroc_per_group(s, group="grp")
    return pg.agg(
        F.round(F.avg("auc"), 6).alias("mean_group_auc"),
        F.count(F.lit(1)).alias("n_groups"),
    )


A14_FEATURE_QUANTILES_SQL = """
SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS l_quantity_q25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS l_quantity_q50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS l_quantity_q75,
       ROUND(quantile_cont(l_quantity, 0.99), 6) AS l_quantity_q99,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS l_extendedprice_q25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS l_extendedprice_q50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS l_extendedprice_q75,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS l_extendedprice_q99,
       ROUND(quantile_cont(l_discount, 0.25), 6) AS l_discount_q25,
       ROUND(quantile_cont(l_discount, 0.5), 6) AS l_discount_q50,
       ROUND(quantile_cont(l_discount, 0.75), 6) AS l_discount_q75,
       ROUND(quantile_cont(l_discount, 0.99), 6) AS l_discount_q99
FROM lineitem
"""


def a14_feature_quantiles(spark, sf_dir):
    """A4/A8 percentile block: exact per-feature quantile summary (Spark
    `percentile` linear interpolation == SQL quantile_cont); the scale
    path flips exact=False to the mergeable t-digest-style
    approx_percentile sketch with the same schema"""
    from photon_ml_spark.functions.stats import feature_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return feature_quantiles(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


# ------------------------------------------------------------------ top-k


@register(
    "t2_reservoir_cap",
    oracle="""
WITH ranked AS (
  SELECT l_suppkey AS entity, 1.0 AS weight,
         ROW_NUMBER() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_orderkey * 8 + l_linenumber, l_partkey, l_extendedprice
         ) AS rn,
         COUNT(*) OVER (PARTITION BY l_suppkey) AS total
  FROM lineitem
)
SELECT CAST(entity AS BIGINT) AS entity,
       CAST(COUNT(*) AS BIGINT) AS kept,
       ROUND(SUM(weight * total / CAST(LEAST(total, 200) AS DOUBLE)), 4) AS weight_sum
FROM ranked WHERE rn <= 200 GROUP BY entity
""",
)
def t2_reservoir_cap(spark, sf_dir):
    """T2: bounded per-entity sample, survivors' weights rescaled by
    count/cap (RandomEffectDataset.scala:454-527,
    MinHeapWithFixedCapacity.scala; deterministic uid ordering here,
    xxhash64 ordering in production operator)"""
    from photon_ml_spark.operators.sampling import per_entity_cap

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("entity"),
        F.lit(1.0).alias("weight"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        "l_partkey", "l_extendedprice",
    )
    capped = per_entity_cap(
        li, entity_col="entity", cap=200, weight_col="weight",
        order_cols=["uid", "l_partkey", "l_extendedprice"],
    )
    return capped.groupBy(F.col("entity").cast("long").alias("entity")).agg(
        F.count(F.lit(1)).alias("kept"),
        F.round(F.sum("weight"), 4).alias("weight_sum"),
    )


# ------------------------------------------------------------------ scalars


F5_LINK_FUNCTIONS_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS uid,
       ROUND(1.0 / (1.0 + EXP(-(o_totalprice / 300000.0 - 1.0))), 6) AS sigmoid,
       ROUND(EXP(o_totalprice / 600000.0 - 1.0), 6) AS exp_mean,
       ROUND(GREATEST(o_totalprice / 300000.0 - 1.0, 0)
             + LN(1 + EXP(-ABS(o_totalprice / 300000.0 - 1.0))), 6) AS log1p_exp
FROM orders WHERE o_orderkey % 97 = 0
"""


def f5_link_functions(spark, sf_dir):
    """F5: logistic/exp/log1p-exp link kernels as column expressions
    (LogisticLossFunction.scala:47-84, PoissonLossFunction.scala:31-54)"""
    from photon_ml_spark.functions import links

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    m = F.col("o_totalprice") / 300000.0 - 1.0
    return o.select(
        F.col("o_orderkey").cast("long").alias("uid"),
        r6(links.sigmoid(m)).alias("sigmoid"),
        r6(F.exp(F.col("o_totalprice") / 600000.0 - 1.0)).alias("exp_mean"),
        r6(links.log1p_exp(m)).alias("log1p_exp"),
    )


F6_VECTOR_OPS_SQL = """
WITH v AS (
  SELECT CAST(l_orderkey AS BIGINT) * 100 + l_linenumber AS uid,
         [CAST(l_quantity AS DOUBLE), ROUND(l_discount * 100)] AS a,
         [ROUND(l_extendedprice / 1000), CAST(l_tax * 100 AS DOUBLE)] AS b
  FROM lineitem WHERE l_orderkey % 101 = 0
)
SELECT uid,
       list_dot_product(a, b) AS dot_ab,
       SQRT(list_dot_product(a, a)) AS norm_a,
       CASE WHEN SQRT(list_dot_product(a, a)) > 0 AND SQRT(list_dot_product(b, b)) > 0
            THEN ROUND(list_dot_product(a, b)
                       / SQRT(list_dot_product(a, a)) / SQRT(list_dot_product(b, b)), 6)
            ELSE 0.0 END AS cosine_ab
FROM v
"""


def f6_vector_ops(spark, sf_dir):
    """F6: vector kernels as pure Catalyst expressions — dot, L2 norm,
    cosine (VectorUtils.scala analog; zip_with + aggregate fold, no
    UDF); integer-quantized components keep folds exact"""
    from photon_ml_spark.functions.vectors import (
        cosine_similarity,
        dense_dot,
        l2_norm,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    a = F.array(
        F.col("l_quantity").cast("double"), F.round(F.col("l_discount") * 100, 0)
    )
    b = F.array(
        F.round(F.col("l_extendedprice") / 1000, 0),
        (F.col("l_tax") * 100).cast("double"),
    )
    return li.select(
        (F.col("l_orderkey").cast("long") * 100 + F.col("l_linenumber")).alias("uid"),
        dense_dot(a, b).alias("dot_ab"),
        l2_norm(a).alias("norm_a"),
        r6(cosine_similarity(a, b)).alias("cosine_ab"),
    )


@register(
    "u5_entity_index_union",
    oracle="""
SELECT CAST(o_custkey AS BIGINT) AS entity,
       ARRAY_TO_STRING(LIST(DISTINCT o_orderpriority ORDER BY o_orderpriority), ',')
         AS priorities
FROM orders GROUP BY o_custkey
""",
)
def u5_entity_index_union(spark, sf_dir):
    """U5/A7: per-entity support-set union as sorted collect_set
    (RandomEffectDataset.scala:417-424 foldByKey-union)"""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").cast("long").alias("entity")).agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities")
    )
