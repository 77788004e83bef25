"""Query registry: one named entry per implemented operator (SURVEY.md §2).

Each operator module registers its demonstration queries here with an
optional DuckDB oracle SQL string. ``__spark_entry__.py`` exposes the
registry to the verification driver; ``tests/test_oracle.py`` replays the
driver's comparison locally.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .session import _ENGINE_CONF, apply_engine_conf

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    confs: Mapping[str, str] = field(default_factory=dict)


QUERIES: dict[str, QuerySpec] = {}

# modules that register queries on import
_QUERY_MODULES = [
    "air_quality_data_pipeline_spark.pipeline",
    "air_quality_data_pipeline_spark.operators.filters",
    "air_quality_data_pipeline_spark.operators.joins",
    "air_quality_data_pipeline_spark.operators.aggregates",
    "air_quality_data_pipeline_spark.operators.sorts",
    "air_quality_data_pipeline_spark.operators.setops",
    "air_quality_data_pipeline_spark.operators.windows",
    "air_quality_data_pipeline_spark.operators.scalar_functions",
    "air_quality_data_pipeline_spark.operators.udfs",
    "air_quality_data_pipeline_spark.operators.sql_queries",
    "air_quality_data_pipeline_spark.operators.dedup",
    "air_quality_data_pipeline_spark.operators.similarity",
    "air_quality_data_pipeline_spark.operators.textops",
    "air_quality_data_pipeline_spark.operators.multimodal",
    "air_quality_data_pipeline_spark.operators.timeseries",
    "air_quality_data_pipeline_spark.operators.quality",
    "air_quality_data_pipeline_spark.operators.graph",
    "air_quality_data_pipeline_spark.sources.queries",
    "air_quality_data_pipeline_spark.streaming.timewindow",
    "air_quality_data_pipeline_spark.streaming.jobs",
]


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    confs: Mapping[str, str] | None = None,
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder.

    ``QuerySpec.builder`` wraps it: each build first runs
    ``apply_engine_conf``, then sets the query's ``confs``. Builders are
    lazy, so confs are applied at build time, read at execution, and reset
    by the next registered build — materialize each query before building
    the next. Only ``_ENGINE_CONF`` keys are reset, so only they may be
    declared. The decorator returns the undecorated function.
    """
    confs = dict(confs or {})
    unreset = sorted(set(confs) - set(_ENGINE_CONF))
    if unreset:
        raise ValueError(f"{name}: confs {unreset} are not reset by apply_engine_conf")

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_engine_conf(spark)
            for key, value in confs.items():
                spark.conf.set(key, value)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(name, build, oracle, fn.__doc__ or "", tags, confs)
        return fn

    return deco


# Verification-priority ordering. The driver's correctness pass evaluates the
# FIRST 50 registry entries only (CORRECTNESS_r01.json covered exactly the
# first 50 of 110), so each round we rotate the names most in need of a driver
# row to the front: queries never yet driver-verified, queries whose code or
# oracle changed this round, and newly added queries. Names absent from the
# registry are ignored (lets the list name queries before they land);
# everything not listed keeps module order after the priority block.
#
# Round-11 window, in need-order (VERDICT r10 items 2-4) — len()-verified by
# the registry accounting tests:
# (a) the 7 batch-2 operators from the interrupted round-10 build that have
#     never had a driver row (VERDICT r10 item 2 — the whole deferral
#     ledger clears this round; DEFERRED_FIRST_ROW is now empty).
# (b) the 12 operators whose CODE changed in the round-11 optimization
#     pass (frontier CC, per-round persists in the iterative graph family,
#     the O(n^2) shingle-hash fixes, compute-dense coalesce floors, the
#     ts_survival_km pre-join collapse, the adamic-adar packing guard,
#     and llm_minhash_dedup's floor-helper refactor) — their rows must
#     sample the NEW code.
# (c) fresh rows-only rows for the 3 rows-only-by-design entries
#     (st_approx_distinct, llm_minhash_lsh, agg_sketch_union), re-sampled
#     per VERDICT r10 item 2.
# (d) 28 oldest-green fillers: every remaining slot goes to round-1 greens
#     not re-sampled since (the oldest evidence in the ledger).
DRIVER_PRIORITY = [
    # (a) round-10 batch-2 first rows
    "agg_ols2",
    "sample_neyman",
    "ts_runs_test",
    "ts_survival_km",
    "llm_ece",
    "llm_filter_funnel",
    "llm_rrf_fusion",
    # (b) round-11 changed-code re-samples
    "graph_cc",
    "graph_cc_shuffle",
    "graph_eigencentrality",
    "graph_hits",
    "graph_pagerank",
    "graph_label_prop",
    "graph_adamic_adar",
    "llm_ngram_novelty",
    "llm_minhash_est_err",
    "llm_simhash_neardup",
    "llm_emb_lsh",
    "llm_minhash_dedup",
    # (c) rows-only refresh
    "st_approx_distinct",
    "llm_minhash_lsh",
    "agg_sketch_union",
    # (d) oldest greens (all last sampled r01)
    "agg_collect_set",
    "agg_count_distinct",
    "agg_count_grp",
    "agg_cube",
    "agg_global_count",
    "agg_quantiles",
    "agg_rollup",
    "agg_stats",
    "agg_superset",
    "f_cast_int",
    "f_coalesce",
    "f_fmt_ts",
    "f_haversine",
    "f_interp",
    "f_lower",
    "f_parse_ts",
    "flagship",
    "flt_exists",
    "flt_geo",
    "flt_isin",
    "flt_notnull",
    "flt_numeric",
    "join_anti",
    "join_bcast",
    "join_bucketed",
    "join_dim",
    "join_nested_corr",
    "join_range",
    # ---- 50-slot fold: names below only order the registry tail ----
    "agg_levene",
    "agg_jackknife_ratio",
    "agg_bayes_shrink",
    "agg_circular_mean",
    "agg_chao1",
    "agg_bootstrap_ci",
    "ts_sax",
    "ts_lag_features",
    "ts_crossover",
    "graph_bipartite_project",
    "graph_triad_census",
    "dq_simpson",
    "dq_dup_burden",
    "llm_code_detect",
    "llm_script_mix",
    "llm_boilerplate_lines",
    "llm_knn_graph",
    "llm_label_medoid",
    "win_reset_cumsum",
    "f_hash_rng",
    "ts_hurst",
    "agg_tail_contrib",
    "dq_heaping",
    "dq_null_correlation",
    "mm_modality_balance",
    "ts_pacf",
    "llm_fleiss_kappa",
    "llm_curriculum_phase",
    "win_ntile",
    "join_salted",
    "llm_incr_dedup",
    "llm_cdc_chunk",
    "agg_spearman",
    "win_skyline",
    "agg_skew_kurt",
    "agg_weighted_median",
    "src_http",
    "agg_hodges_lehmann",
    "agg_basket_pairs",
    "graph_katz",
    "ts_spectral_power",
    "ts_entropy_rate",
    "ts_haar_energy",
    "llm_dp_count",
    "llm_epoch_plan",
    "ref_pipeline",
    "agg_mannwhitney",
    "agg_anova",
    "ts_bollinger",
    "ts_rsi",
    "graph_assortativity",
    "llm_emb_outliers",
    "llm_prefix_dedup",
    "mm_aspect_bucket",
    "sample_bottomk",
    "ts_leadlag",
    "llm_rater_kappa",
    "agg_kendall_tau",
    "dq_psi",
    "dq_sequence_gaps",
    "win_hopping",
    "ts_calendar_profile",
    "graph_harmonic",
    "graph_pref_attach",
    "llm_lexical_diversity",
    "llm_term_lift",
    "llm_chrf",
    "mm_audio_vad",
    "f_edit_distance",
    "ts_macd",
    "agg_theil",
    "agg_trimmed_mean",
    "llm_skipgram_cooccur",
    "agg_cramers_v",
    "agg_mutual_info",
    "agg_cohens_d",
    "ts_vwap",
    "ts_stochastic",
    "ts_burstiness",
    "graph_richclub",
    "win_rank_delta",
    "dq_value_shape",
    "dq_cardinality_trend",
    "llm_lsh_tune",
    "llm_self_bleu",
    "mm_bitrate",
    "sample_strat_k",
    "ts_volatility",
    "ts_outages",
    "llm_langid_eval",
    "f_time_bucket",
    "dq_label_balance",
    "agg_topn_other",
    "llm_source_overlap",
    "ts_forecast_eval",
    "llm_char_entropy",
    "llm_dataset_interleave",
    "dq_volume_anomaly",
    "llm_winsorize",
    "llm_markup_strip",
    "llm_url_extract",
    "llm_char_bigram_entropy",
    "ts_changepoint",
    "ts_drawdown",
    "graph_reciprocity",
    "agg_concentration",
    "dq_join_skew",
    "llm_token_budget",
    "ts_peak_detect",
    "f_codec",
    "llm_template_detect",
    "llm_blocklist_filter",
    "graph_modularity",
    "llm_url_canonicalize",
    "mm_patch_grid",
    "graph_clustering_coef",
    "f_geo_bearing",
    "agg_wilson_ci",
    "llm_pad_waste",
    "agg_bloom_filter",
    "ts_markov_transitions",
    "dq_funcdep",
    "llm_readability",
    "agg_ttest",
    "llm_jsd_drift",
    "graph_degree_dist",
    "st_topk",
    "mm_phash",
    "dq_temporal",
    "ts_interarrival",
    "mm_scene_cut",
    "llm_bleu",
    "agg_geomean",
    "ts_cov_matrix",
    "ts_decay_score",
    "dq_chi2",
    "llm_emb_covariance",
    "ts_holt",
    "llm_cross_dedup",
    "join_semi",
    "proj_select",
    "sort_asc",
    "topk",
    "limit_page",
    "stop_early",
    "set_union",
    "set_distinct",
    "set_intersect",
    "set_except",
    "win_rank",
    "win_latest",
    "win_frame",
    "win_offsets",
    "win_distribution",
]

# The driver reads the FIRST 50 registry entries; names past the fold only
# order the remainder of the registry.
DRIVER_WINDOW = DRIVER_PRIORITY[:50]

# Round 11 clears the ENTIRE debt ledger: the 7 round-10 batch-2 first
# rows, all 12 round-11 changed-code re-samples, and the 3 rows-only
# refreshes ride the window together (22 slots + 28 oldest-green
# fillers). New operators registered in a round must be added to
# DEFERRED_FIRST_ROW in the same commit IF the window is already full —
# the round-6 lesson: a @register without window accounting ships a red
# suite. Round 11 is an optimization round: no new operators, so the
# deferral ledger is EMPTY — the close_round freshness gate passes with
# an empty never-sampled set (VERDICT r10 item 2's done-condition).
DEFERRED_FIRST_ROW: set[str] = set()

# Names owed a round-12 window slot that are NOT first rows: changed-code
# re-samples and deliberate rows-only slots. Kept as code (not a comment)
# so the accounting tests can enforce the round-12 budget. Empty: every
# round-11 code change rides the round-11 window itself.
ROUND12_RESAMPLE: set[str] = set()


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every operator module (idempotent) and return the registry,
    reordered so DRIVER_PRIORITY names come first (see comment above)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    prioritized = [n for n in DRIVER_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(prioritized)]
    return {n: QUERIES[n] for n in [*prioritized, *rest]}
