"""Round-10 batch-2 operators (SURVEY §2.AH): plan gates + value pins.

Plan gates pin the scale shape each docstring promises (dims broadcast,
windows riding cell tables not the corpus, TakeOrderedAndProject instead
of global sorts, single-collapse funnels). Value pins recompute each
estimator independently (numpy lstsq, a pure-Python KM/runs fold, rank
arithmetic) so a consistent bug in both SQL texts can't hide behind the
oracle match.
"""

from __future__ import annotations

import math

import pytest

from air_quality_data_pipeline_spark.registry import load_all_queries
from conftest import executed_plan

SPECS = load_all_queries()


# --- plan gates ---------------------------------------------------------------


def test_ols2_part_dim_broadcasts(spark, sf_dir):
    """agg_ols2: the part dim must broadcast onto the lineitem scan (no
    shuffle join), and the fit is ONE brand-keyed aggregate exchange."""
    import re

    plan = executed_plan(spark, "agg_ols2", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    ids = {
        m.group(1)
        for m in re.finditer(
            r"Exchange hashpartitioning\(p_brand[^\n]*plan_id=(\d+)", plan
        )
    }
    assert len(ids) <= 1, f"{len(ids)} brand-keyed exchanges:\n" + plan[:2000]


@pytest.mark.parametrize("name", ["ts_survival_km", "ts_runs_test"])
def test_km_and_runs_windows_ride_cells(spark, sf_dir, name):
    """The cumulative/lag windows must consume an AGGREGATED cell table
    (priority x day / type x day), never raw corpus rows: every Window
    in the plan has a HashAggregate below it."""
    plan = executed_plan(spark, name, sf_dir)
    idx = plan.find("Window")
    assert idx >= 0, plan[:2000]
    # last Window printed is the deepest one; an aggregate must sit below it
    last = plan.rfind("Window")
    assert "HashAggregate" in plan[last:], (
        f"{name}: deepest window consumes raw rows:\n" + plan[:2000]
    )


def test_rrf_fusion_no_global_sort(spark, sf_dir):
    """llm_rrf_fusion: both list truncations and the final top-20 must be
    TakeOrderedAndProject partial top-k — a rangepartitioning exchange
    would mean a corpus-wide sort."""
    plan = executed_plan(spark, "llm_rrf_fusion", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "rangepartitioning" not in plan, plan[:2000]


@pytest.mark.parametrize("name", ["llm_ece", "llm_filter_funnel"])
def test_audit_ops_single_corpus_collapse(spark, sf_dir, name):
    """llm_ece / llm_filter_funnel: one corpus pass, one collapse — no
    join anywhere and at most the cell/global aggregate exchanges."""
    plan = executed_plan(spark, name, sf_dir)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan, f"{name} plans a {join}:\n" + plan[:2000]


def test_neyman_alloc_broadcasts(spark, sf_dir):
    """sample_neyman: the 5-row allocation table must broadcast onto the
    rank window's output — a shuffle join there would re-exchange the
    corpus a third time."""
    plan = executed_plan(spark, "sample_neyman", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


# --- value pins ---------------------------------------------------------------


def test_ols2_matches_numpy_lstsq(spark, sf_dir):
    """Betas, intercept and R^2 agree with numpy's QR solve on the same
    cent-quantized inputs."""
    np = pytest.importorskip("numpy")
    from air_quality_data_pipeline_spark.tables import table

    rows = SPECS["agg_ols2"].builder(spark, sf_dir).collect()
    assert rows
    li = table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "cast(floor(l_quantity) as bigint) q",
        "cast(floor(l_discount * 100 + 0.5) as bigint) d",
        "cast(floor(l_extendedprice * 100 + 0.5) as bigint) y",
    )
    pt = table(spark, sf_dir, "part").selectExpr("p_partkey", "p_brand")
    data = li.join(pt, li.l_partkey == pt.p_partkey).collect()
    by_brand: dict[str, list] = {}
    for r in data:
        by_brand.setdefault(r.p_brand, []).append((r.q, r.d, r.y))
    for r in rows:
        pts = by_brand[r.p_brand]
        assert r.n_rows == len(pts)
        if len(pts) < 3:
            continue
        X = np.array([[1.0, q, d] for q, d, _ in pts])
        Y = np.array([y for _, _, y in pts], dtype=float)
        beta, *_ = np.linalg.lstsq(X, Y, rcond=None)
        assert abs(r.beta_qty - beta[1] / 100.0) < 1e-5, r.p_brand
        assert abs(r.beta_discount - beta[2]) < 1e-4, r.p_brand
        assert abs(r.intercept - beta[0] / 100.0) < 1e-4, r.p_brand
        resid = Y - X @ beta
        ss_tot = ((Y - Y.mean()) ** 2).sum()
        if ss_tot > 0:
            r2 = 1.0 - (resid**2).sum() / ss_tot
            assert abs(r.r_squared - r2) < 1e-6, r.p_brand
        assert r.r_squared is None or -1e-9 <= r.r_squared <= 1 + 1e-9


def test_survival_km_matches_reference_fold(spark, sf_dir):
    """S(t) recomputed with a pure-Python Kaplan-Meier over the same
    durations matches within the nano-quantization tolerance, and the
    curve is monotone non-increasing with shrinking risk sets."""
    from air_quality_data_pipeline_spark.tables import table
    import pyspark.sql.functions as F

    rows = SPECS["ts_survival_km"].builder(spark, sf_dir).collect()
    assert rows
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    dur = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate", "o_orderstatus")
        .agg(F.max("l_shipdate").alias("ls"))
        .selectExpr(
            "o_orderpriority priority",
            "datediff(ls, o_orderdate) t",
            "case when o_orderstatus <> 'O' then 1 else 0 end ev",
        )
        .collect()
    )
    by_p: dict[str, list] = {}
    for r in dur:
        by_p.setdefault(r.priority, []).append((r.t, r.ev))
    for prio in by_p:
        pts = sorted(by_p[prio])
        got = sorted(
            [r for r in rows if r.priority == prio], key=lambda r: r.t_days
        )
        s, at_risk = 1.0, len(pts)
        i, expect = 0, {}
        times = sorted({t for t, _ in pts})
        for t in times:
            d = sum(1 for tt, ev in pts if tt == t and ev == 1)
            leaving = sum(1 for tt, _ in pts if tt == t)
            if d > 0:
                s *= (at_risk - d) / at_risk
                expect[t] = (at_risk, d, s)
            at_risk -= leaving
        assert [r.t_days for r in got] == sorted(expect)
        prev = 1.0
        for r in got:
            n, d, sref = expect[r.t_days]
            assert r.n_at_risk == n and r.n_events == d
            assert abs(r.survival - sref) < 1e-5
            assert r.survival <= prev + 1e-12
            prev = r.survival


def test_runs_test_matches_reference_fold(spark, sf_dir):
    """n_up/n_down/runs recomputed from the daily cells in Python agree
    exactly; z matches the closed form."""
    from air_quality_data_pipeline_spark.tables import table
    import pyspark.sql.functions as F

    rows = {r.event_type: r for r in SPECS["ts_runs_test"].builder(spark, sf_dir).collect()}
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("v"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.v))
    for et, pts in series.items():
        pts.sort()
        signs = []
        for (_, a), (_, b) in zip(pts, pts[1:]):
            if b > a:
                signs.append(1)
            elif b < a:
                signs.append(-1)
        n1 = signs.count(1)
        n2 = signs.count(-1)
        runs = sum(
            1 for i, s in enumerate(signs) if i == 0 or signs[i - 1] != s
        )
        r = rows[et]
        assert (r.n_up, r.n_down, r.n_runs) == (n1, n2, runs)
        n = n1 + n2
        if n1 and n2 and n > 1:
            mu = 2.0 * n1 * n2 / n + 1.0
            var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
            assert abs(r.z - (runs - mu) / math.sqrt(var)) < 1e-6


def test_rrf_fusion_score_arithmetic(spark, sf_dir):
    """Fused scores decompose exactly into 1/(60+rank) terms; ranks are
    valid 1..100; the output is the top-20 by fused score."""
    rows = SPECS["llm_rrf_fusion"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = []
    for r in rows:
        expect = 0.0
        if r.kw_rank is not None:
            assert 1 <= r.kw_rank <= 100
            expect += 1.0 / (60 + r.kw_rank)
        if r.vec_rank is not None:
            assert 1 <= r.vec_rank <= 100
            expect += 1.0 / (60 + r.vec_rank)
        assert abs(r.rrf_score - expect) < 1e-8
        scores.append(r.rrf_score)
    assert scores == sorted(scores, reverse=True)
    # docs on BOTH lists must outrank a doc at the same ranks on one list
    both = [r for r in rows if r.kw_rank is not None and r.vec_rank is not None]
    if both:
        assert max(scores) >= both[0].rrf_score


def test_ece_is_the_weighted_gap_sum(spark, sf_dir):
    """ECE recomputed from the emitted bins (sum n_b*|acc-conf| / N)
    matches the column; bins partition the corpus; probabilities are in
    [0, 1]."""
    from air_quality_data_pipeline_spark.tables import table

    rows = SPECS["llm_ece"].builder(spark, sf_dir).collect()
    assert rows
    n_total = (
        table(spark, sf_dir, "documents").filter("text is not null").count()
    )
    assert sum(r.n_docs for r in rows) == n_total
    ece = sum(r.n_docs * abs(r.accuracy - r.avg_confidence) for r in rows) / n_total
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.accuracy <= 1.0
        assert 0.0 <= r.avg_confidence <= 1.0
        # per-row ece column is the same corpus-level number everywhere
        assert abs(r.ece - rows[0].ece) < 1e-12
    assert abs(rows[0].ece - ece) < 1e-6


def test_filter_funnel_waterfall_identities(spark, sf_dir):
    """Survivors are non-increasing, marginal failures telescope
    (surv_{i-1} - surv_i), and fail_alone >= fail_marginal (a gate can
    only reject fewer docs after earlier gates already rejected some)."""
    rows = sorted(
        SPECS["llm_filter_funnel"].builder(spark, sf_dir).collect(),
        key=lambda r: r.stage,
    )
    assert [r.stage for r in rows] == [1, 2, 3, 4]
    from air_quality_data_pipeline_spark.tables import table

    n_in = table(spark, sf_dir, "documents").filter("text is not null").count()
    prev = n_in
    for r in rows:
        assert r.fail_marginal == prev - r.survivors
        assert r.survivors <= prev
        assert r.fail_alone >= r.fail_marginal
        assert abs(r.survival_rate - r.survivors / n_in) < 1e-9
        prev = r.survivors


def test_neyman_allocation_arithmetic(spark, sf_dir):
    """n_alloc = (1000 * w_cent) div sum(w_cent) exactly; the sample
    never exceeds the stratum; total allocation stays within budget."""
    rows = SPECS["sample_neyman"].builder(spark, sf_dir).collect()
    assert rows
    total_w = sum(r.w_cent for r in rows)
    assert sum(r.n_alloc for r in rows) <= 1000
    for r in rows:
        assert r.n_alloc == (1000 * r.w_cent) // total_w
        assert r.n_sampled == min(r.n_alloc, r.n_h)
        assert r.w_cent >= 0


# --- llm_knn_graph Arrow-kernel exactness pins (round-10 rewrite) ---------------


def test_knn_zero_norm_neighbor_is_null_cosine(spark):
    """A zero-norm vector sharing a block must surface as a NULL-cosine
    neighbor ranked AFTER every real cosine (desc NULLS LAST, nid) — the
    Arrow kernel's -inf sentinel must convert back to a true NULL, and
    the unpruned relational oracle must agree element-wise."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from air_quality_data_pipeline_spark.oracle import TABLE_NAMES, check_query

    src = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    dst = "/tmp/knn_zero_norm_fixture"
    os.makedirs(dst, exist_ok=True)
    for name in TABLE_NAMES:
        if name == "embeddings":
            continue
        shutil.copyfile(
            os.path.join(src, f"{name}.parquet"), os.path.join(dst, f"{name}.parquet")
        )
    dim = 64
    rows = [
        (10, [0.0] * dim, 1),                                  # zero norm
        (11, [0.5] * dim, 1),
        (12, [(-1.0) ** i * 0.25 for i in range(dim)], 1),
        (13, [0.125] * dim, 2),                                # lone in its block
    ]
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
                "label": [r[2] for r in rows],
            },
            schema=schema,
        ),
        os.path.join(dst, "embeddings.parquet"),
    )
    spec = SPECS["llm_knn_graph"]
    got = {
        (r.qid, r.rnk): r for r in spec.builder(spark, dst).collect()
    }
    # vec 11's neighbors: real cosine to 12 first, NULL cosine to 10 last
    assert got[(11, 1)].nid == 12 and got[(11, 1)].cosine is not None
    assert got[(11, 2)].nid == 10 and got[(11, 2)].cosine is None
    # the zero vector itself: every cosine NULL, ordered by nid
    assert got[(10, 1)].nid == 11 and got[(10, 1)].cosine is None
    assert got[(10, 2)].nid == 12 and got[(10, 2)].cosine is None
    # lone vector in block 2 emits nothing
    assert not any(q == 13 for q, _ in got)
    # and the whole fixture must match the unpruned relational oracle
    problems = check_query(spec.builder(spark, dst), spec.oracle, dst)
    assert not problems, problems[:3]
