"""Round-10 operator batch: plan gates + value-property pins.

Plan gates pin the SHAPE each docstring promises (bounded-domain pair
tables, co-located self-joins, broadcast dims, no corpus-sized cartesian
anywhere). Property pins anchor semantics the DuckDB oracle can't
distinguish from a consistent bug in both SQL texts (estimator
invariants, energy conservation, probability normalization, budget
conservation under the epoch cap).
"""

from __future__ import annotations

import math

import pytest

from air_quality_data_pipeline_spark.registry import load_all_queries
from conftest import executed_plan

SPECS = load_all_queries()


# --- plan gates ---------------------------------------------------------------


def test_hodges_lehmann_pairs_ride_the_cell_grain(spark, sf_dir):
    """The Walsh-pair expansion must be a self-join of the (flag, qty)
    CELL table, never of lineitem rows: the plan may contain no join
    whose both inputs scan lineitem without an intervening aggregate."""
    plan = executed_plan(spark, "agg_hodges_lehmann", sf_dir)
    # the cell collapse is a hash aggregate below the join
    join_at = min(
        i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                    plan.find("BroadcastNestedLoopJoin")) if i >= 0
    )
    below_join = plan[join_at:]
    assert "HashAggregate" in below_join, (
        "pair join does not consume an aggregated cell table:\n" + plan[:2000]
    )


def test_basket_pairs_single_corpus_shuffle(spark, sf_dir):
    """agg_basket_pairs: ONE order-keyed exchange builds the per-order
    brand arrays (cached); pairs and supports are generated map-locally
    from the arrays — no SortMergeJoin (a membership self-join would
    re-exchange both aliased sides), and the brand dim broadcasts."""
    import re

    plan = executed_plan(spark, "agg_basket_pairs", sf_dir)
    # the cached subtree's text repeats under every InMemoryTableScan —
    # dedupe physical exchanges by plan_id
    ids = {
        m.group(1)
        for m in re.finditer(
            r"Exchange hashpartitioning\(l_orderkey[^\n]*plan_id=(\d+)", plan
        )
    }
    assert len(ids) <= 1, (
        f"{len(ids)} distinct order-keyed exchanges:\n" + plan[:2000]
    )
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, "brand dim did not broadcast"


def test_katz_walks_never_enumerate(spark, sf_dir):
    """graph_katz composes walk COUNTS by joins on the edge table; no
    cartesian product may appear (the memoized edge build is equi-join
    only) and walk aggregation must be hash aggregates."""
    plan = executed_plan(spark, "graph_katz", sf_dir)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "HashAggregate" in plan


@pytest.mark.parametrize("name", ["ts_spectral_power", "ts_haar_energy"])
def test_series_ops_collapse_before_fanout(spark, sf_dir, name):
    """The 2-3x period/scale fan-out must sit ABOVE the first corpus
    collapse (hourly/daily cells), so the explode multiplies cells, not
    raw events: the plan below the Generate must contain the cell
    aggregate."""
    plan = executed_plan(spark, name, sf_dir)
    gen = plan.index("Generate explode")
    below = plan[gen:]
    assert "HashAggregate" in below, (
        f"{name}: explode fans out raw rows, not cells:\n" + plan[:2000]
    )


def test_entropy_rate_windows_ride_the_cell_table(spark, sf_dir):
    """ts_entropy_rate: the only corpus-grain exchange is the user-keyed
    lag window; the global/row-total windows run on the <= |types|^2 cell
    table AFTER the bigram aggregate (window above aggregate in the
    printed plan)."""
    plan = executed_plan(spark, "ts_entropy_rate", sf_dir)
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], plan[:2000]


@pytest.mark.parametrize("name", ["llm_dp_count", "llm_epoch_plan"])
def test_budget_ops_single_source_collapse(spark, sf_dir, name):
    """One map-side-combined collapse to the |sources| grain: exactly one
    hashpartitioning(source...) exchange; everything downstream is
    broadcast/row-local."""
    import re

    plan = executed_plan(spark, name, sf_dir)
    ids = {
        m.group(1)
        for m in re.finditer(
            r"Exchange hashpartitioning\(source[^\n]*plan_id=(\d+)", plan
        )
    }
    assert len(ids) <= 1, (
        f"{name}: {len(ids)} source-keyed exchanges:\n" + plan[:2000]
    )


# --- value properties -----------------------------------------------------------


def test_hodges_lehmann_between_min_and_max(spark, sf_dir):
    """The pseudomedian lies inside the sample range, n_pairs =
    n(n+1)/2, and for a symmetric-ish sample it tracks the mean."""
    df = SPECS["agg_hodges_lehmann"].builder(spark, sf_dir)
    rows = {r.l_returnflag: r for r in df.collect()}
    from air_quality_data_pipeline_spark.tables import table

    li = table(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag", "cast(floor(l_quantity) as bigint) q"
    )
    import pyspark.sql.functions as F

    stats = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(F.min("q").alias("lo"), F.max("q").alias("hi"),
             F.count("q").alias("n"))
        .collect()
    }
    for flag, r in rows.items():
        s = stats[flag]
        assert s.lo <= r.hodges_lehmann <= s.hi
        assert r.n_pairs == s.n * (s.n + 1) // 2


def test_basket_pairs_lift_identity(spark, sf_dir):
    """lift * supp_a * supp_b == confidence * supp_a * n_orders / ...:
    pin the defining identities confidence = pair/supp_a and
    lift = pair*N/(supp_a*supp_b) against an independent N."""
    df = SPECS["agg_basket_pairs"].builder(spark, sf_dir)
    rows = df.collect()
    assert rows, "no co-purchased brand pairs at this SF"
    from air_quality_data_pipeline_spark.tables import table

    n_orders = (
        table(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )
    for r in rows:
        assert r.brand_a < r.brand_b
        assert 0 < r.pair_supp <= min(r.supp_a, r.supp_b)
        assert abs(r.confidence - r.pair_supp / r.supp_a) < 1e-9
        assert (
            abs(r.lift - r.pair_supp * n_orders / (r.supp_a * r.supp_b)) < 1e-6
        )


def test_katz_dominated_by_degree_term(spark, sf_dir):
    """katz = 0.1*w1 + 0.01*w2 + 0.001*w3 exactly (integer milli units),
    and w2 of node v equals the sum of w1 over v's in-neighbors —
    recomputed independently from the edge set."""
    df = SPECS["graph_katz"].builder(spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        milli = 100 * r.walks1 + 10 * r.walks2 + r.walks3
        assert abs(r.katz - milli / 1000.0) < 1e-9
    from air_quality_data_pipeline_spark.operators.graph import _copurchase_edges

    edges = [(e.src, e.dst) for e in _copurchase_edges(spark, sf_dir).collect()]
    w1 = {}
    for _, d in edges:
        w1[d] = w1.get(d, 0) + 1
    w2 = {}
    for s, d in edges:
        w2[d] = w2.get(d, 0) + w1.get(s, 0)
    for r in rows:
        assert r.walks2 == w2.get(r.node, 0), f"node {r.node}"


def test_spectral_power_shares_normalize(spark, sf_dir):
    """power_share sums to 1 per series (when any power is nonzero) and
    power equals (c^2+s^2)/1e12 from the emitted sums."""
    rows = SPECS["ts_spectral_power"].builder(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        expected = (r.c_sum * r.c_sum + r.s_sum * r.s_sum) / 1e12
        assert abs(r.power - expected) < 1e-6
        by_type.setdefault(r.event_type, []).append(r.power_share)
    for t, shares in by_type.items():
        if any(s is not None for s in shares):
            assert abs(sum(shares) - 1.0) < 1e-6, t


def test_haar_energy_matches_python_recount(spark, sf_dir):
    """Scale-2 Haar energy recomputed in Python from the daily micro
    cells must match exactly (integer arithmetic end to end)."""
    import pyspark.sql.functions as F
    from air_quality_data_pipeline_spark.tables import table

    rows = SPECS["ts_haar_energy"].builder(spark, sf_dir).collect()
    assert rows
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.sum(F.floor(F.col("value") * 1e6).cast("bigint")).alias("v"))
        .collect()
    )
    cells = {}
    for r in daily:
        cells.setdefault(r.event_type, {})[r.d] = r.v
    for r in rows:
        if r.scale_days != 2:
            continue
        series = cells[r.event_type]
        e = 0
        n_blocks = 0
        for blk in set(d // 2 for d in series):
            ds = [d for d in series if d // 2 == blk]
            if len(ds) != 2:
                continue
            lo, hi = min(ds), max(ds)
            e += (series[lo] - series[hi]) ** 2
            n_blocks += 1
        assert r.n_blocks == n_blocks
        assert abs(r.energy - e / 1e12) < max(1e-6, abs(e / 1e12) * 1e-12)


def test_entropy_rate_bounds(spark, sf_dir):
    """0 <= H <= log2(|types|); perplexity = 2^H; cells <= |types|^2."""
    r = SPECS["ts_entropy_rate"].builder(spark, sf_dir).collect()[0]
    from air_quality_data_pipeline_spark.tables import table

    k = (
        table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .count()
    )
    assert 0.0 <= r.entropy_rate_bits <= math.log2(k) + 1e-9
    assert r.n_cells <= k * k
    assert abs(r.perplexity - 2.0**r.entropy_rate_bits) < 1e-6


def test_dp_count_noise_is_content_derived(spark, sf_dir):
    """The Laplace draw must depend only on the source key: same source
    at two SFs gets the SAME noise; and noise is inverse-CDF consistent
    (median-symmetric sign split across sources)."""
    df1 = SPECS["llm_dp_count"].builder(spark, sf_dir)
    n1 = {r.source: r.noise for r in df1.collect()}
    df2 = SPECS["llm_dp_count"].builder(spark, "/root/testdata/sf0.01")
    n2 = {r.source: r.noise for r in df2.collect()}
    shared = set(n1) & set(n2)
    assert shared
    for s in shared:
        assert n1[s] == n2[s], f"noise not content-derived for {s}"
    for r in df1.collect():
        assert abs(r.dp_count - (r.n_docs + r.noise)) < 1e-6


def test_epoch_plan_conserves_budget_and_caps(spark, sf_dir):
    """No source exceeds the 3-epoch cap (+quantization epsilon); open
    sources end within budget: total allocation <= target, and equals
    target when nothing is capped."""
    rows = SPECS["llm_epoch_plan"].builder(spark, sf_dir).collect()
    assert rows
    total_avail = sum(r.avail_tokens for r in rows)
    target = 2.0 * total_avail
    alloc = sum(r.alloc_tokens for r in rows)
    for r in rows:
        assert r.epochs <= 3.0 + 1e-6, r.source
        assert r.alloc_tokens <= 3.0 * r.avail_tokens + 1e-6
        if r.capped:
            assert r.ideal_tokens >= r.alloc_tokens - 1e-6
    # one redistribution pass never over-allocates; with no caps binding
    # the plan is exactly proportional and exhausts the budget
    assert alloc <= target + 1e-3
    if not any(r.capped for r in rows):
        assert abs(alloc - target) < 1e-3


def test_src_http_pagination_stops_on_empty(spark, sf_dir):
    """Round-10 DataSource promotion: the planner's pagination walk over
    the REAL local HTTP fixture probes pages 1..5 and stops at the first
    EMPTY page (5), while the HTTP-500 page (4) is kept as a partition
    (error != terminator; the executor-side skip policy handles it). So
    the scan has exactly 4 input partitions and still yields the 5
    healthy rows."""
    from air_quality_data_pipeline_spark.registry import load_all_queries

    df = load_all_queries()["src_http"].builder(spark, sf_dir)
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 5
    assert {r.page for r in rows} == {1, 2, 3}
