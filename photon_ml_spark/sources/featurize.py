"""Featurization: (name, term, value) feature bags → indexed vector columns.

Rebuilds the reference's Avro feature pipeline Spark-first:

- feature key construction (Utils.getFeatureKey; AvroDataReader.scala:292-295)
- feature-dictionary building (AvroDataReader.scala:223-243 auto-scan;
  FeatureIndexingDriver.scala:218-291 offline job)
- shard-vector assembly with duplicate-feature detection and intercept
  slot (AvroDataReader.scala:309-346)

Scale notes: a dictionary that fits the driver
(``MAP_STRATEGY_MAX_KEYS``, intercept slot included) is indexed there,
the way the reference kept its index map in memory: one bounded
collect of the distinct keys, a Python sort, and a local relation
(``LocalTableScan``) that later reads and collects without a Spark
job. Above that bound the dictionary stays a DataFrame joined at
ingest (the reference needed PalDB off-heap stores above ~200k
features, FeatureIndexingDriver.scala:41-42; a broadcast-or-shuffle
join subsumes that), and index assignment uses the shared JVM
zipWithIndex (operators/indexing.py): range-partitioned sort, so no
single-partition row_number bottleneck at 100M+ features, and no
Python-RDD round-trip.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from photon_ml_spark.datamodel import (
    FEATURE_KEY_SEP,
    INTERCEPT_KEY,
    FeatureShardConfig,
)
from photon_ml_spark.operators.indexing import zip_with_index


def feature_key_col(name_col="name", term_col="term", sep: str = FEATURE_KEY_SEP):
    """key = name + SEP + term (F1). ``concat_ws`` treats NULL term as ''."""
    return F.concat_ws(sep, F.col(name_col), F.col(term_col))


def exploded_features(df: DataFrame, feature_bags: list[str]) -> DataFrame:
    """Flatten array<struct<name,term,value>> bags to (key, value) rows."""
    out = None
    for bag in feature_bags:
        part = df.select(
            "*",
            F.explode(F.col(bag)).alias("__f"),
        ).select(
            *[c for c in df.columns],
            feature_key_col("__f.name", "__f.term").alias("feature_key"),
            F.col("__f.value").cast("double").alias("feature_value"),
        )
        out = part if out is None else out.unionByName(part)
    return out


#: Most dictionary entries (intercept slot included) kept on the driver:
#: up to it a dictionary is built locally and assembled through a
#: literal map (``assemble_shard(strategy='map')``); above it both run
#: as distributed plans.
MAP_STRATEGY_MAX_KEYS = 100_000


def build_feature_dictionary(
    df: DataFrame,
    feature_bags: list[str],
    has_intercept: bool = True,
    selected_features: DataFrame | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Distinct feature keys → dense contiguous index (S3/S4).

    Returns DataFrame(feature_key string, feature_index long), indices
    assigned in lexicographic key order (deterministic across runs —
    the reference instead froze arbitrary hash order into PalDB).
    Intercept occupies the final slot, matching AvroDataReader.scala:
    336-341 (intercept appended after all real features).

    ``selected_features`` (optional): a (feature_key) relation — only
    keys present in it enter the dictionary, so downstream assembly
    silently drops everything else. This is the reference's
    selected-features-file flow (GLMSuite.scala:
    getSelectedFeatureSetFromFile — an allowlist the reference reads
    from an Avro NameAndTerm file and applies while building the index
    map); Spark-first it is a semi-join, never a driver set.

    One bounded collect (``MAP_STRATEGY_MAX_KEYS`` entries with the
    intercept) decides the path. Keys that fit are sorted in Python —
    code-point order, the same order as Spark's binary UTF-8 string
    compare — and returned as a local relation. Above the bound the
    distinct keys feed the JVM zipWithIndex, which scans them again.
    Keys are not cached for that rescan: the cache would cost every
    build a job, and only the over-the-bound path would read it.
    """
    keys = None
    for bag in feature_bags:
        k = df.select(
            F.explode(F.col(bag)).alias("__f")
        ).select(feature_key_col("__f.name", "__f.term").alias("feature_key"))
        keys = k if keys is None else keys.unionByName(k)
    keys = keys.distinct()
    if selected_features is not None:
        keys = keys.join(
            selected_features.select("feature_key").distinct(),
            "feature_key",
            "left_semi",
        )
    spark = keys.sparkSession
    cap = MAP_STRATEGY_MAX_KEYS - int(has_intercept)
    head = keys.limit(cap + 1).toArrow().column("feature_key")
    if len(head) <= cap:
        names = sorted(head.to_pylist())
        if has_intercept:
            names.append(INTERCEPT_KEY)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "feature_key": pd.Series(names, dtype=object),
                    "feature_index": np.arange(len(names), dtype=np.int64),
                }
            ),
            "feature_key string, feature_index long",
        )

    # Scalable deterministic zipWithIndex — ROW_NUMBER() OVER (ORDER BY
    # feature_key) - 1 with neither a single-partition window nor a
    # Python-RDD round-trip: the shared JVM device (range-partitioned
    # sort + per-partition row_number + broadcast-joined prefix-sum
    # offsets) keeps the whole vocabulary inside Tungsten. The
    # prefix-sum total doubles as the intercept slot, so no extra
    # count() job either.
    # n_partitions sizes the ordinal job's range exchange (default:
    # cluster parallelism) — the per-partition vocabulary slice must
    # fit executor memory, so 100M+ key builds on few cores raise it
    dict_df, n = zip_with_index(
        keys, "feature_key", id_col="feature_index",
        n_partitions=n_partitions,
    )
    if has_intercept:
        # 1-row JVM literal (no createDataFrame → no ExistingRDD scan)
        intercept = spark.range(1).select(
            F.lit(INTERCEPT_KEY).alias("feature_key"),
            F.lit(n).cast("long").alias("feature_index"),
        )
        dict_df = dict_df.select("feature_key", "feature_index").unionByName(
            intercept
        )
    return dict_df


def write_name_term_bags(
    df: DataFrame, feature_bags: list[str], output_dir: str
) -> dict[str, int]:
    """Per-bag distinct (name, term) vocabulary sink — the
    NameAndTermFeatureBagsDriver's output artifact (photon-client/.../
    data/avro/NameAndTermFeatureBagsDriver.scala:148-180 →
    NameAndTermFeatureMapUtils.saveAsTextFiles:66-94): each bag's
    distinct list lands under ``{output_dir}/{bag}`` as TAB-delimited
    text lines ``name\\tterm`` (NameAndTerm.toString's wire format), a
    later run's feature allowlist.

    Each bag is an independent job over ONLY that bag's column (parquet
    column pruning makes the per-bag rescan cheaper than caching the
    full input at scale); distinct is one shuffle on (name, term) with
    map-side partial aggregation. Returns {bag: distinct count} read
    back from the written files (one cheap scan of the small text
    output, not a second pass over the input)."""
    counts = {}
    for bag in feature_bags:
        (
            df.select(F.explode(F.col(bag)).alias("__f"))
            .select(
                F.col("__f.name").cast("string").alias("name"),
                F.col("__f.term").cast("string").alias("term"),
            )
            .distinct()
            .select(F.concat_ws("\t", "name", "term").alias("value"))
            .write.mode("overwrite")
            .text(f"{output_dir}/{bag}")
        )
        counts[bag] = df.sparkSession.read.text(f"{output_dir}/{bag}").count()
    return counts


def read_name_term_bags(
    spark, root: str, feature_bags: list[str]
) -> DataFrame:
    """Parse a ``write_name_term_bags`` output back into a
    (feature_key) relation — NameAndTermFeatureMapUtils.
    readNameAndTermFeatureMapFromTextFiles parity (:114-148: a line is
    1 token — empty term — or 2 tokens). The result plugs straight
    into ``build_feature_dictionary(selected_features=...)`` and the
    index driver's allowlist semi-join."""
    out = None
    for bag in feature_bags:
        toks = spark.read.text(f"{root}/{bag}").select(
            F.split(F.col("value"), "\t", 2).alias("__t")
        )
        keys = toks.select(
            F.concat_ws(
                FEATURE_KEY_SEP,
                F.element_at("__t", 1),
                F.coalesce(F.element_at("__t", 2), F.lit("")),
            ).alias("feature_key")
        )
        out = keys if out is None else out.unionByName(keys)
    return out.distinct()


def read_name_term_avro(spark, path: str) -> DataFrame:
    """Read a FeatureNameTermAvro file (the reference's selected-
    features artifact format, GLMSuite.getSelectedFeatureSetFromFile /
    photon-avro-schemas FeatureNameTermAvro — e.g. its
    GLMSuiteIntegTest/selectedFeatures.avro fixture) into a
    (feature_key) relation for the dictionary allowlist semi-join."""
    from photon_ml_spark.sources.avro_io import read_avro

    return (
        read_avro(spark, path)
        .select(
            F.concat_ws(
                FEATURE_KEY_SEP,
                F.col("name"),
                F.coalesce(F.col("term"), F.lit("")),
            ).alias("feature_key")
        )
        .distinct()
    )


def check_duplicate_features(
    df: DataFrame, feature_bags: list[str], uid_col: str = "uid"
) -> DataFrame:
    """Rows where one uid carries the same feature key twice within a
    shard (AvroDataReader.scala:319-324 raises on this).

    Returns DataFrame(uid, feature_key, dup_count) — empty when clean.
    """
    ex = exploded_features(df.select(uid_col, *feature_bags), feature_bags)
    return (
        ex.groupBy(uid_col, "feature_key")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def _collect_pairs(mapped: DataFrame, shard: FeatureShardConfig, uid_col: str) -> DataFrame:
    """(uid, feature_index, feature_value) rows → per-uid sorted
    sparse-pair arrays — the assembly invariant (index-sorted arrays,
    <shard>_indices/_values naming) shared by the dictionary-join and
    hashing-trick paths."""
    return (
        mapped.groupBy(uid_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("feature_index", "feature_value"))
            ).alias("__pairs")
        )
        .select(
            uid_col,
            F.col("__pairs.feature_index").alias(f"{shard.shard_name}_indices"),
            F.col("__pairs.feature_value").alias(f"{shard.shard_name}_values"),
        )
    )


def assemble_shard(
    df: DataFrame,
    dictionary: DataFrame,
    shard: FeatureShardConfig,
    uid_col: str = "uid",
    broadcast_dict: bool = True,
    strategy: str = "join",
    max_map_keys: int = MAP_STRATEGY_MAX_KEYS,
    entries: list | None = None,
) -> DataFrame:
    """Attach ``<shard>_indices``/``<shard>_values`` sparse-pair columns.

    The shard is the union of its bags' features mapped through the
    dictionary (AvroDataReader.scala:309-346). Unknown keys are dropped
    (score-time behavior). Output arrays are sorted by index — the
    invariant SparseVector construction requires.

    Representation choice: (indices, values) long/double arrays, not
    VectorUDT — plain arrays stay inside Tungsten/codegen and convert
    to ml.linalg vectors only at the spark.ml boundary.

    Two physical strategies (the broadcast-vs-shuffle decision for
    dictionaries, analogous to the reference's in-memory vs PalDB split
    at FeatureIndexingDriver.scala:41-42):

    - ``strategy='join'`` (default, arbitrarily wide feature spaces):
      explode → dictionary equi-join → groupBy(uid) → join back.
      Costs two shuffles of the row set; ``broadcast_dict=False``
      additionally shuffles the dictionary side (>100M keys).
    - ``strategy='map'`` (dictionaries that fit the driver, ≤ ~100k
      keys): dictionary collected into a literal map, feature arrays
      rewritten IN PLACE with transform/filter/sort — zero shuffle,
      zero join, whole-stage codegen. Requires unique keys per row
      (guaranteed post check_duplicate_features, S2 contract).

    The ≤``max_map_keys`` contract on ``'map'`` is ENFORCED, not
    advisory: the collect is bounded by ``limit(max_map_keys + 1)``
    (never an unbounded driver fetch) and an oversized dictionary
    silently falls back to the shuffle-safe ``'join'`` plan.
    ``entries``: the dictionary's rows when the caller has already
    collected them, so ``'map'`` collects nothing again.
    """
    if strategy == "map" and entries is None:
        entries = dictionary.limit(max_map_keys + 1).collect()
    if strategy == "map" and len(entries) > max_map_keys:
        strategy = "join"  # dictionary too big for a literal map
    if strategy == "map":
        mapping = F.map_from_arrays(
            F.array(*[F.lit(r[0]) for r in entries]),
            F.array(*[F.lit(int(r[1])) for r in entries]),
        )
        bag_union = F.concat(*[F.coalesce(F.col(b), F.array()) for b in shard.feature_bags])
        keyed = F.transform(
            bag_union,
            lambda f: F.struct(
                F.element_at(
                    mapping, F.concat_ws(FEATURE_KEY_SEP, f["name"], f["term"])
                ).alias("feature_index"),
                f["value"].cast("double").alias("feature_value"),
            ),
        )
        pairs = F.array_sort(
            F.filter(keyed, lambda p: p["feature_index"].isNotNull())
        )
        return df.withColumns(
            {
                f"{shard.shard_name}_indices": pairs["feature_index"].cast("array<long>"),
                f"{shard.shard_name}_values": pairs["feature_value"],
            }
        )

    ex = exploded_features(df.select(uid_col, *shard.feature_bags), shard.feature_bags)
    dim = F.broadcast(dictionary) if broadcast_dict else dictionary
    mapped = ex.join(dim, "feature_key", "inner")
    return df.join(_collect_pairs(mapped, shard, uid_col), uid_col, "left")


# ------------------------------------------------- hashing-trick path

# Polynomial rolling hash over the key's codepoints — NOT xxhash64,
# deliberately: this hash is exactly expressible in ANSI SQL (a
# list_reduce in DuckDB), so hashed featurization stays inside the
# cross-engine oracle contract. Collision quality is adequate for the
# hashing trick (Weinberger et al. 2009): what matters is uniformity
# over `dim`, not cryptographic strength.
HASH_TRICK_BASE = 31
HASH_TRICK_MOD = 1_000_000_007


def portable_feature_hash(key: Column) -> Column:
    """h = fold(h·31 + codepoint) mod p over the key string — one JVM
    higher-order aggregate, no UDF; identical arithmetic is a
    ``list_reduce`` on the SQL side."""
    return F.aggregate(
        F.split(key, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * HASH_TRICK_BASE + F.ascii(ch))
        % HASH_TRICK_MOD,
    )


def hashed_feature_index(key: Column, dim: int) -> Column:
    return F.pmod(portable_feature_hash(key), F.lit(dim)).cast("long")


def assemble_shard_hashed(
    df: DataFrame,
    shard: FeatureShardConfig,
    dim: int,
    uid_col: str = "uid",
) -> DataFrame:
    """Hashing-trick shard assembly: ``index = hash(key) mod dim``,
    colliding features SUM their values — NO feature dictionary at all.

    This is the scale path past the dictionary strategies in
    ``assemble_shard``: the reference's answer to >200k features is an
    offline PalDB index (FeatureIndexingDriver.scala:41-42), ours is a
    dictionary DataFrame join — but at 100M+ sparse features even
    building the dictionary is a corpus-wide distinct, and serving it
    is a join against billions of rows. The hashing trick removes the
    state entirely: featurization becomes a pure function of the row,
    the only shuffles are the (uid, index) collision-sum and the
    re-join on uid, and train/score can never disagree on the mapping
    (there is no mapping to version). The trade is bounded, quantified
    collision noise — pick ``dim`` a few × the live feature count.
    """
    key = F.col("feature_key")
    ex = exploded_features(df.select(uid_col, *shard.feature_bags), shard.feature_bags)
    summed = (
        ex.select(
            uid_col,
            hashed_feature_index(key, dim).alias("feature_index"),
            F.col("feature_value"),
        )
        .groupBy(uid_col, "feature_index")
        .agg(F.sum("feature_value").alias("feature_value"))
    )
    return df.join(_collect_pairs(summed, shard, uid_col), uid_col, "left")
