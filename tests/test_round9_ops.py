"""Round-9 operator batch: plan gates + value-property pins.

Plan gates pin the SHAPE each docstring promises (zero-shuffle
projections, map-side-combined fan-outs, no single-partition window over
a value grain, equi-join — not cartesian — pair expansion). Property pins
anchor semantics the DuckDB oracle can't distinguish from a consistent
bug in both SQL texts (planted ground truth, normalization invariants,
argmin optimality).
"""

from __future__ import annotations

import pytest

from air_quality_data_pipeline_spark.registry import load_all_queries
from conftest import executed_plan

SPECS = load_all_queries()


# --- plan gates ---------------------------------------------------------------


@pytest.mark.parametrize("name", ["llm_code_detect", "llm_script_mix"])
def test_text_audits_are_zero_shuffle(spark, sf_dir, name):
    """Pure row-local regex/ratio projections: no Exchange of any kind."""
    plan = executed_plan(spark, name, sf_dir)
    assert "Exchange" not in plan, f"{name} shuffled:\n{plan[:1500]}"


def test_bootstrap_fanout_combines_map_side(spark, sf_dir):
    """agg_bootstrap_ci: the 32x explode must collapse in a PARTIAL
    aggregate before any exchange — the exchange carries B*k cells, not
    B*N rows. A plan whose first post-Generate exchange precedes the
    partial agg ships the fan-out through the wire."""
    plan = executed_plan(spark, "agg_bootstrap_ci", sf_dir)
    assert "Generate explode" in plan
    gen = plan.index("Generate explode")
    # the executed-plan string prints consumers ABOVE producers, so the
    # partial aggregate over the replicate keys must appear before (above)
    # the Generate and after its exchange
    upstream = plan[:gen]
    assert "partial_sum" in upstream, (
        "no map-side partial aggregate above the explode:\n" + plan[:2000]
    )


def test_tail_contrib_has_no_single_partition_value_window(spark, sf_dir):
    """agg_tail_contrib's cumulative scan must be the range-distributed
    two-level prefix (the agg_spearman/win_skyline treatment): no window
    may run on a SinglePartition exchange."""
    plan = executed_plan(spark, "agg_tail_contrib", sf_dir)
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "windowspecdefinition" in ln.lower():
            below = "\n".join(lines[i : i + 6])
            assert "SinglePartition" not in below or "rid" in below, (
                "value-grain window on a single partition:\n" + below
            )


def test_knn_graph_scores_in_cogrouped_arrow_cells(spark, sf_dir):
    """llm_knn_graph blocks by (label, salt) and scores each cell in ONE
    cogrouped Arrow kernel: the plan must contain the cogroup operator
    and NO pair-table join or rank window — nothing block-sized may
    cross a shuffle (the round-10 sf10 find: the relational pair join +
    window exchanged ~100 GB and spilled). The salt replication stays a
    deliberate broadcast nested-loop cross of the tiny salt dim; no
    other cartesian is allowed."""
    plan = executed_plan(spark, "llm_knn_graph", sf_dir)
    assert "FlatMapCoGroupsInPandas" in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a pair-table join reappeared:\n" + plan[:1500]
    )
    assert "Window" not in plan, "a rank window reappeared:\n" + plan[:1500]
    # the AQE compute-blind-coalescing fix (BASELINE.md round-9): the salted
    # inputs must exchange with an EXPLICIT partition count — the only
    # shuffle origin AQE never coalesces. Losing this folds the compute
    # grid into one task (measured 15+ min at sf1).
    assert "REPARTITION_BY_NUM" in plan, plan[:1500]


def test_reset_cumsum_single_exchange(spark, sf_dir):
    """win_reset_cumsum: both windows share the user clustering, so the
    whole operator pays exactly ONE shuffle (hashpartitioning(user_id)
    satisfies the (user_id, segment) clustering of the second window)."""
    plan = executed_plan(spark, "win_reset_cumsum", sf_dir)
    n_shuffles = sum(
        1
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    )
    assert n_shuffles == 1, f"expected 1 shuffle, saw {n_shuffles}:\n{plan[:2000]}"


def test_hurst_windows_are_chunk_bounded(spark, sf_dir):
    """ts_hurst: every window partitions by (type, size, chunk) — at most
    32 rows per partition by construction; no single-partition window."""
    plan = executed_plan(spark, "ts_hurst", sf_dir)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "windowspecdefinition" in ln.lower():
            assert "chunk" in ln, "hurst window not chunk-partitioned:\n" + ln[:300]


# --- value-property pins --------------------------------------------------------


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    rows = SPECS["agg_bootstrap_ci"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.boot_se > 0
        assert r.ci_lo <= r.mean_qty <= r.ci_hi


def test_chao1_dominates_observed(spark, sf_dir):
    for r in SPECS["agg_chao1"].builder(spark, sf_dir).collect():
        assert r.chao1 >= r.d_observed
        assert 0.0 <= r.coverage <= 1.0


def test_levene_statistic_positive(spark, sf_dir):
    rows = SPECS["agg_levene"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.levene_w >= 0.0
        assert r.mean_abs_dev >= 0.0


def test_bayes_shrink_pulls_toward_grand_mean(spark, sf_dir):
    """Every shrunk mean lies BETWEEN the raw group mean and the grand
    mean, with weight in [0, 1] — the posterior-mean contract."""
    rows = SPECS["agg_bayes_shrink"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.shrink_w <= 1.0
        lo, hi = sorted([r.mean_qty, r.shrunk_mean])
        # shrunk is on the grand-mean side of the raw mean
        assert hi - lo <= abs(r.mean_qty - r.shrunk_mean) + 1e-9


def test_circular_mean_in_range(spark, sf_dir):
    for r in SPECS["agg_circular_mean"].builder(spark, sf_dir).collect():
        assert 0.0 <= r.mean_hour < 24.0
        assert 0.0 <= r.resultant <= 1.0
        assert r.circ_std_hours >= 0.0


def test_jackknife_se_nonnegative(spark, sf_dir):
    for r in SPECS["agg_jackknife_ratio"].builder(spark, sf_dir).collect():
        assert r.jackknife_se >= 0.0
        assert r.ratio > 0.0


def test_tail_shares_partition_the_tail(spark, sf_dir):
    rows = SPECS["agg_tail_contrib"].builder(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.share_of_tail for r in rows) - 1.0) < 1e-6
    for r in rows:
        assert 0.0 < r.tail_rate <= 1.0


def test_sax_symbols_valid(spark, sf_dir):
    rows = SPECS["ts_sax"].builder(spark, sf_dir).collect()
    assert rows
    assert {r.symbol for r in rows} <= {"a", "b", "c", "d"}


def test_lag_features_rolling_std_nonnegative(spark, sf_dir):
    for r in SPECS["ts_lag_features"].builder(spark, sf_dir).collect():
        assert r.y is not None
        if r.roll7_std is not None:
            assert r.roll7_std >= 0.0


def test_crossover_signals_alternate(spark, sf_dir):
    """Consecutive crossings of one series must alternate golden/death."""
    rows = SPECS["ts_crossover"].builder(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.d)):
        by_type.setdefault(r.event_type, []).append(r.signal)
    for sigs in by_type.values():
        for a, b in zip(sigs, sigs[1:]):
            assert a != b, "two consecutive crossings in the same direction"


def test_hurst_in_unit_interval(spark):
    # sf0.001's hourly grid is too sparse for full 8/16/32-hour chunks
    # (the operator correctly returns nothing there); pin values at sf0.01
    from tests.conftest import SF_ORACLE

    rows = SPECS["ts_hurst"].builder(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.log_rs_8 < r.log_rs_32, "R/S must grow with chunk size"
        assert -0.5 < r.hurst < 1.5  # estimator noise bounds at tiny n


def test_triad_census_shares(spark, sf_dir):
    rows = SPECS["graph_triad_census"].builder(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_cyclic >= 0 and r.n_transitive >= 0
    if r.n_cyclic + r.n_transitive > 0:
        assert 0.0 <= r.cycle_share <= 1.0


def test_bipartite_projection_lift_gate(spark, sf_dir):
    for r in SPECS["graph_bipartite_project"].builder(spark, sf_dir).collect():
        assert r.lift > 1.0
        assert 0.0 < r.jaccard <= 1.0
        assert r.brand_a < r.brand_b


def test_eigencentrality_max_normalized(spark, sf_dir):
    rows = SPECS["graph_eigencentrality"].builder(spark, sf_dir).collect()
    assert rows
    assert max(r.centrality for r in rows) == 1.0
    for r in rows:
        assert 0.1 <= r.centrality <= 1.0


def test_simpson_signs_bounded(spark, sf_dir):
    rows = SPECS["dq_simpson"].builder(spark, sf_dir).collect()
    assert rows
    pooled = {r.pooled_sign for r in rows}
    assert len(pooled) == 1, "pooled sign must be one global value"
    for r in rows:
        assert r.seg_sign in (-1, 0, 1)
        assert r.sign_flips == (r.seg_sign * r.pooled_sign == -1)


def test_dup_burden_counts_planted_dups(spark, sf_dir):
    """The 1-in-7 planted replay must be exactly the duplicate set."""
    rows = SPECS["dq_dup_burden"].builder(spark, sf_dir).collect()
    total_dups = sum(r.dup_rows for r in rows)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expected = docs.filter("doc_id % 7 = 0").count()
    assert total_dups == expected
    for r in rows:
        if r.dup_rows > 0:
            assert r.wasted_bytes > 0


def test_code_detect_matches_planting(spark, sf_dir):
    """Ground truth: exactly the docs with the planted code suffix flag."""
    rows = SPECS["llm_code_detect"].builder(spark, sf_dir).collect()
    for r in rows:
        assert r.is_code == (r.doc_id % 7 == 0), r


def test_script_mix_nonascii_planting(spark, sf_dir):
    rows = SPECS["llm_script_mix"].builder(spark, sf_dir).collect()
    for r in rows:
        if r.doc_id % 11 == 0:
            assert r.n_nonascii > 0
        else:
            assert r.n_nonascii == 0
        assert (
            r.n_alpha + r.n_digit + r.n_space + r.n_punct + r.n_nonascii
            == r.n_total
        )


def test_boilerplate_footer_detected(spark, sf_dir):
    """Every source's planted footer must be flagged as boilerplate."""
    rows = SPECS["llm_boilerplate_lines"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_boiler_distinct >= 1, f"footer missed for {r.source}"
        assert 0.0 < r.boiler_share <= 1.0


def test_knn_graph_neighbors_share_block(spark, sf_dir):
    rows = SPECS["llm_knn_graph"].builder(spark, sf_dir).collect()
    assert rows
    per_q: dict[int, int] = {}
    for r in rows:
        assert 1 <= r.rnk <= 3
        assert r.nid != r.qid
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
    assert max(per_q.values()) <= 3


def test_label_medoid_is_argmin(spark, sf_dir):
    """The reported medoid must beat (or tie) every sampled member on
    distance-to-centroid — argmin optimality, checked independently."""
    import math

    emb = {
        (r.vec_id, r.label): [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    by_label: dict[int, list] = {}
    for (vid, lab), v in emb.items():
        by_label.setdefault(lab, []).append((vid, v))
    cents = {
        lab: [sum(v[i] for _, v in vs) / len(vs) for i in range(64)]
        for lab, vs in by_label.items()
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    rows = SPECS["llm_label_medoid"].builder(spark, sf_dir).collect()
    assert len(rows) == len(by_label)
    for r in rows:
        c = cents[r.label]
        best = min(d2(v, c) for _, v in by_label[r.label])
        got = d2(dict((vid, v) for vid, v in by_label[r.label])[r.medoid_id], c)
        # quantized centroid vs float centroid: allow a hair of slack
        assert got <= best + 1e-4, (r.label, got, best)


def test_reset_cumsum_zero_on_markers(spark, sf_dir):
    """Marker rows open their segment: their running sum is exactly 0."""
    rows = SPECS["win_reset_cumsum"].builder(spark, sf_dir).collect()
    markers = [r for r in rows if r.event_type == "purchase"]
    assert markers
    for r in markers:
        assert r.run_sum == 0.0


def test_hash_rng_distributional_sanity(spark, sf_dir):
    rows = SPECS["f_hash_rng"].builder(spark, sf_dir).collect()
    n = len(rows)
    keep = sum(1 for r in rows if r.keep_10pct)
    assert 0.05 * n < keep < 0.15 * n
    deciles = [0] * 10
    for r in rows:
        assert 0.0 < r.u <= 1.0
        assert r.exp1 >= 0.0
        deciles[r.decile] += 1
    assert min(deciles) > 0


def test_heaping_shares_sum_to_one(spark, sf_dir):
    rows = SPECS["dq_heaping"].builder(spark, sf_dir).collect()
    by_type: dict[str, float] = {}
    for r in rows:
        assert r.chi2 >= 0.0
        by_type[r.event_type] = by_type.get(r.event_type, 0.0) + r.share
    for t, s in by_type.items():
        assert abs(s - 1.0) < 1e-6, (t, s)


def test_null_correlation_detects_planting(spark, sf_dir):
    """The planted value-dependent missingness must surface: the top
    quartile's null rate strictly exceeds the bottom quartile's, and its
    MNAR flag fires."""
    # sf0.001's value range doesn't reach the q4 bucket; pin at sf0.01
    from tests.conftest import SF_ORACLE

    rows = {
        r.bucket: r
        for r in SPECS["dq_null_correlation"].builder(spark, SF_ORACLE).collect()
    }
    assert rows["q4"].null_rate > rows["q1"].null_rate
    assert rows["q4"].mnar_flag


# --- round-9 final batch (ts_pacf, llm_fleiss_kappa, llm_curriculum_phase) -----


def test_curriculum_thresholds_are_range_distributed(spark, sf_dir):
    """The tertile scan must be the two-level prefix, not a
    single-partition window over the score grain."""
    plan = executed_plan(spark, "llm_curriculum_phase", sf_dir)
    assert "rangepartitioning" in plan.lower(), plan[:1500]


def test_curriculum_phases_cover_corpus(spark, sf_dir):
    rows = SPECS["llm_curriculum_phase"].builder(spark, sf_dir).collect()
    import pyspark.sql.functions as F  # noqa: F401

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    by = {r.phase: r for r in rows}
    # ordered, non-overlapping score ranges
    phases = sorted(by)
    for a, b in zip(phases, phases[1:]):
        assert by[a].max_score < by[b].min_score


def test_fleiss_kappa_bounded(spark, sf_dir):
    rows = SPECS["llm_fleiss_kappa"].builder(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert -1.0 <= r.fleiss_kappa <= 1.0
    assert 0.0 <= r.p_observed <= 1.0
    assert 0.5 <= r.p_expected <= 1.0  # binary two-category floor is 1/2


def test_pacf_lag1_equals_acf1(spark, sf_dir):
    """By construction pacf(1) == acf(1); and all pacf values bounded."""
    rows = SPECS["ts_pacf"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        for v in (r.pacf1, r.pacf2, r.pacf3):
            if v is not None:
                assert -1.0001 <= v <= 1.0001
