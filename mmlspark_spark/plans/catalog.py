"""Query catalog: every implemented operator exposed as a driver-checkable
query with (where SQL-expressible) a DuckDB oracle.

Contract (driver): each query fn takes (spark, sf_dir) and returns a
DataFrame; the oracle SQL runs on DuckDB views named after the parquet
tables. Column names are aliased identically on both sides; doubles that
come out of aggregation are rounded identically on both sides so the
order-insensitive value-hash matches despite floating-point summation
order differing between engines.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mmlspark_spark.core.session import configure_session, load_table


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None → rows-only check
    headline: bool = False  # included in bench.py
    tags: tuple = field(default_factory=tuple)


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, headline: bool = False, tags: tuple = ()):
    def deco(fn):
        fn.__query_name__ = name

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_session(spark)
            return fn(spark, sf_dir)

        CATALOG[name] = QuerySpec(name, wrapped, oracle, headline, tags)
        return fn

    return deco


# Driver correctness-checks a window of the first 50 entries of
# queries(). Round-18 priority, in order of evidence need (the
# groups are annotated inline below): (a) all 27 oracled lanes
# whose last driver green is r13 — age 5 at the r18 check, over
# the lint bound, so the must-window set — in their r13 window
# order (the key order of CORRECTNESS_r13.json); (b) the remaining
# 23 slots from the next-oldest block, the 48 r14-green lanes,
# taken in their r14 window order (the key order of
# CORRECTNESS_r14.json). The r19 backlog is the 25 remaining
# r14-green lanes (knn_bruteforce, knn_sq8, knn_sq8_filtered,
# bm25_search, bm25_phrase_search, hybrid_rrf, semantic_dedup,
# embedding_kmeans_assign, text_metrics, date_featurize,
# count_selector, text_preprocessor, repetition_metrics,
# heavy_hitters, line_dedup, markup_strip, scd2_merge,
# funnel_steps, group_percentiles, rolling_revenue, pagerank,
# join_multi, dedup_resolve, sar_affinity, sar_item_similarity —
# age 5 at the r19 check unless windowed, the lint will force
# them) plus whatever r18 adds.
# test_window_rotation_fairness mechanizes all of this: an oracled
# query whose last driver green would fall more than 4 rounds stale
# under the planned window fails the lint, as does a new oracled
# query parked outside the window. The lint ages lanes against
# max(CORRECTNESS_r*) + 1, so landing a round's CORRECTNESS_rN.json
# means re-planning this window for the next round.
_WINDOW_PRIORITY = (
    # (a) the r18 must-window set: the 27 r13-green lanes, at age 5
    #     this round, in r13 window order
    "unicode_normalize", "url_extract", "vw_featurizer", "anti_join",
    "broadcast_join_revenue", "clean_missing", "data_conversion",
    "domain_mix", "embedding_stats", "lang_stats", "multi_ngram",
    "ngram_lm_score", "page_splitter", "pivot_status",
    "quality_score", "rollup_counts", "semi_join", "sessionize",
    "token_count", "top_k_per_group", "tpch_q2", "tpch_q4",
    "tpch_q16", "tpch_q19", "ts_featurize", "value_indexer",
    "window_hourly_agg",
    # (b) 23 of the 48 r14-green queries (age 4), in r14 window
    #     order so the r19 plan stays lint-clean mechanically
    "exact_match_incremental", "minhash_match_appended",
    "hybrid_rrf_indexed", "knn_ivf_appended", "ann_recall",
    "dedup_recall", "dsir_select", "embedding_dedup", "exact_dedup",
    "incremental_dedup", "knn_ivf", "knn_matryoshka",
    "knn_matryoshka_sq8", "knn_pq_adc", "ngram_jaccard",
    "perplexity_prune", "tabular_lime_exact", "tpch_q20", "tpch_q21",
    "bpe_merges_small", "knn_ivfpq_indexed", "knn_ivf_filtered",
    "knn_ivfpq",
)
# exactly 50 entries — the driver window size; a 51st would be
# silently parked outside
assert len(_WINDOW_PRIORITY) == 50, len(_WINDOW_PRIORITY)


def _ordered_specs() -> list[QuerySpec]:
    """Priority-listed queries first IN LIST ORDER (including
    rows-only entries — the only way a rows-only query can ever enter
    the driver's window, since everything after the priority block is
    oracled-first), then the remaining oracled queries (stable by
    registration order), then the remaining rows-only. List position
    matters — a sort key of mere membership would fall back to
    registration order inside the priority group, silently parking
    late-registered queries outside the window. The SAME ordering
    drives every exported view (queries(), oracle_sql()) so positional
    consumers can never mispair them."""
    rank = {n: i for i, n in enumerate(_WINDOW_PRIORITY)}
    return sorted(
        CATALOG.values(),
        key=lambda s: (rank.get(s.name, len(_WINDOW_PRIORITY)),
                       s.oracle is None))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _ordered_specs()
            if spec.oracle is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)




# ---------------------------------------------------------------------------
# Lane modules: register themselves on import (mechanical split of the
# former single-file catalog, round 15). Import order preserves the
# original registration order, which _ordered_specs falls back to for
# queries outside the priority window — do not reorder.
# ---------------------------------------------------------------------------
import mmlspark_spark.plans.lanes_relational  # noqa: E402,F401
import mmlspark_spark.plans.lanes_events  # noqa: E402,F401
import mmlspark_spark.plans.lanes_featurize  # noqa: E402,F401
import mmlspark_spark.plans.lanes_llm  # noqa: E402,F401
import mmlspark_spark.plans.lanes_reco_anomaly  # noqa: E402,F401
import mmlspark_spark.plans.lanes_retrieval  # noqa: E402,F401
import mmlspark_spark.plans.lanes_extras  # noqa: E402,F401
