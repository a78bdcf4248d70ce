"""Query registry: one entry per implemented SURVEY §2 operator.

Each registered query is a (spark, sf_dir) → DataFrame callable that
exercises an engine operator on the driver's synthetic tables, paired
(where SQL-expressible) with an ANSI-SQL oracle string DuckDB runs on
the same parquet. Column names are aligned on both sides because the
driver's comparator hashes values under sorted column names.

Float convention: every floating-point output column in an
oracle-compared query is ROUND(x, 6)-ed on BOTH sides so summation-
order differences between engines cannot flip the value hash.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class QuerySpec:
    run: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    note: str = ""


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, note: str = ""):
    def deco(fn):
        QUERY_REGISTRY[name] = QuerySpec(run=fn, oracle=oracle, note=note)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "documents":
        # spread the under-split documents scan to core count: the
        # synthetic table is a single-row-group file (one task), and
        # document queries run CPU-heavy per-row expressions —
        # shingling, tokenization, quality regexes — single-threaded
        # up to the first shuffle without it (measured 5.7 s -> 0.2 s
        # for the x6 shingle explode at sf0.1). ONLY the documents
        # table: for the cheap columnar scans (lineitem metric blocks)
        # the added exchange costs more than it buys — a blanket
        # spread measured a9 10.5 -> 19.5 s. No-op on block-sized
        # real datasets (see datasets.spread_scan).
        from photon_ml_spark.sources.datasets import spread_scan

        df = spread_scan(df)
    return df


def r6(c) -> F.Column:
    return F.round(c, 6)


# Import side-effect modules that register queries. A module that fails
# to import raises here: a silently skipped module would shrink the gate.
def _load_all_registrations():
    import photon_ml_spark.queries_core  # noqa: F401
    import photon_ml_spark.queries_ml  # noqa: F401
    import photon_ml_spark.queries_pipeline  # noqa: F401
    import photon_ml_spark.queries_streaming  # noqa: F401
    # merged suite queries: folds near-duplicate registrations into
    # per-family gate rows (must load LAST — it captures + re-registers)
    import photon_ml_spark.queries_merged  # noqa: F401


# Explicit registry order. The driver's correctness gate records the
# FIRST 50 entries of all_queries(), so this list IS the gate window:
# one row per component family (SURVEY §2 + pipeline/streaming/
# multimodal extensions). Queries registered but not listed here sort
# after the window — they are same-family variants whose component is
# already gate-covered (m2b stationarity vs m2, x5 signatures vs the
# x6 suite, e4 scoring vs m12, x11/x13/x15 text stats vs x1/x12/x16)
# and remain verified by the local oracle replica (tests/test_oracle).
# Round 3 folded near-neighbour rows (f5+f6, p5+p6, a4+a8) into suite
# rows to free slots for the new temporal-join / curation / chunk-split
# families while staying at exactly 50 entries.
GATE_ORDER = [
    # sources / projections / joins / functions / top-k / unions
    "s3_feature_dictionary",
    "s1_avro_roundtrip_scan",
    "s7_date_range_scan",
    "s2_dup_feature_check",
    "s5_nameterm_bags",
    "p1_game_datum_projection",
    "p4_data_validation",
    "p5_downsample_suite",
    "p8_pearson_topk",
    "p9_entity_support_filter",
    "f4_daily_paths",
    "f5_scalar_kernels",
    "j1_residual_attach",
    "j3_warmstart_classify",
    "j8_passive_anti_join",
    "j11_score_add",
    "u5_entity_index_union",
    "t2_reservoir_cap",
    "a4_stats_suite",
    "a5_entity_cardinality",
    "a9_metric_suite",
    # ML training / scoring
    "m1_glr_fixed_effect",
    "m1_custom_solvers",
    "m2_per_entity_ridge",
    "m3_coordinate_descent",
    "m4_elastic_net_fixed",
    "m5_normalization_backmap",
    "m9_incremental_prior",
    "m10_hessian_variance",
    "m11_reg_grid",
    "m12_game_scoring",
    "m13_smoothed_hinge_svm",
    # training-data pipeline extensions
    "x1_text_quality",
    "x2_language_id",
    "x3_exact_dedup",
    "x4_ngram_jaccard_pairs",
    "x6_neardup_pairs",
    "x9_ann_topk",
    "x12_quality_suite",
    "x14_pack_shuffle",
    "x16_pii_scan",
    "x17_cluster_suite",
    "x18_corpus_mix",
    "x19_curation_scores",
    "x21_chunk_split",
    # streaming extension
    "e1_event_windows",
    "e2_event_json_props",
    "e5_stream_first_seen",
    "e6_temporal_joins",
    # multimodal extension
    "xm1_multimodal_suite",
]


def all_queries() -> dict[str, QuerySpec]:
    _load_all_registrations()
    ordered = {name: QUERY_REGISTRY[name] for name in GATE_ORDER}
    for name in sorted(set(QUERY_REGISTRY) - set(ordered)):
        ordered[name] = QUERY_REGISTRY[name]
    return ordered
