"""Physical-plan quality gates.

Correctness says the right rows come back; these tests pin the plan SHAPE
that makes each operator survive a 100 TB scale-up: broadcasts where a side
is known-small, zero exchanges where bucketing co-locates, top-k planned as
TakeOrderedAndProject (no global sort), predicates reaching the parquet
scan, and no accidental cartesian anywhere in the relational core.
"""

from __future__ import annotations

import re

import pytest

from air_quality_data_pipeline_spark.registry import load_all_queries
from conftest import executed_plan

SPECS = load_all_queries()


def _formatted(spark, name, sf_dir) -> str:
    df = SPECS[name].builder(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # no SHUFFLE exchange anywhere: the join consumes the tables' bucketing
    # and the same-key aggregate reuses it (a broadcast exchange on the dim
    # side is fine — AQE picks BHJ at test scale; at 100 TB both sides being
    # bucketed makes it a zero-shuffle sort-merge join on the same plan)
    plan = executed_plan(spark, "join_bucketed", sf_dir)
    assert "Exchange hashpartitioning" not in plan, (
        f"bucketed join+agg should need no shuffle:\n{plan}"
    )
    assert "Bucketed: true" in plan


def test_flagship_broadcasts_dimensions(spark, sf_dir):
    plan = executed_plan(spark, "flagship", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = executed_plan(spark, "topk", sf_dir)
    assert "TakeOrderedAndProject" in plan, "ORDER BY+LIMIT must not be a global sort"


def test_sql_q6_pushes_all_predicates(spark, sf_dir):
    fmt = _formatted(spark, "sql_q6", sf_dir)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("l_shipdate" in p and "l_discount" in p and "l_quantity" in p for p in pushed), (
        f"q6 predicates must reach the scan:\n{pushed}"
    )


def test_proj_select_prunes_columns(spark, sf_dir):
    fmt = _formatted(spark, "proj_select", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
    assert m, "no ReadSchema found"
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert len(cols) <= 7, f"projection should prune the scan to <=7 columns, got {cols}"


def test_ivf_assignment_is_partial_aggregate(spark, sf_dir):
    plan = executed_plan(spark, "llm_sim_search_ivf", sf_dir)
    # the assignment argmax must be a partial+final aggregate (max-of-struct
    # plans as SortAggregate — structs aren't hash-aggregable — but the
    # map-side partial_max is what prevents shuffling 16x the corpus), and
    # centroid joins must be broadcast
    assert "partial_max" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    ["join_dim", "join_bcast", "join_semi", "join_anti", "join_salted", "topk", "flagship"],
)
def test_relational_core_has_no_cartesian(spark, sf_dir, name):
    plan = executed_plan(spark, name, sf_dir)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


@pytest.mark.parametrize(
    "name", ["agg_cube", "agg_rollup", "agg_grouping_id", "agg_grouping_sets"]
)
def test_grouping_sets_expand_aggregated_keys(spark, sf_dir, name):
    # the Expand's child is the final aggregate on (l_returnflag,
    # l_linestatus), so the Expand reads one row per key pair, not one per
    # lineitem row
    lines = executed_plan(spark, name, sf_dir).splitlines()
    at = [i for i, line in enumerate(lines) if "Expand [" in line]
    assert len(at) == 1, f"{name}: expected one Expand:\n" + "\n".join(lines)
    child = lines[at[0] + 1]
    assert "HashAggregate(keys=[l_returnflag" in child and "partial_" not in child, (
        f"{name}: Expand must read the per-key aggregate, got:\n{child}"
    )


def test_partitioned_scan_prunes_partitions(spark, sf_dir):
    fmt = _formatted(spark, "src_partitioned", sf_dir)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", fmt)
    assert m and "event_type" in m.group(1), f"partition filter missing:\n{fmt[:2000]}"


def test_doc_chunk_has_no_exchange(spark, sf_dir):
    # chunking is per-row fan-out: any Exchange means a formulation bug
    plan = executed_plan(spark, "llm_doc_chunk", sf_dir)
    assert "Exchange" not in plan, f"chunking must be shuffle-free:\n{plan}"


def test_kmeans_assignment_is_partial_aggregate(spark, sf_dir):
    # same gate as IVF: the argmax must partially combine map-side (never
    # shuffle k x corpus), the seed join must broadcast, and the centroid
    # recompute must be a partial+final integer-sum hash aggregate
    plan = executed_plan(spark, "llm_kmeans_iter", sf_dir)
    assert "partial_max" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_seq_pack_single_exchange(spark, sf_dir):
    # packing must shuffle once (on bucket) and nothing else
    plan = executed_plan(spark, "llm_seq_pack", sf_dir)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, f"expected exactly 1 shuffle (bucket), got {n}:\n{plan}"


def test_decontaminate_probes_are_broadcast(spark, sf_dir):
    # the eval-gram set must build a broadcast hash side; corpus rows must
    # not be exchanged to meet it (the only hashpartitioning exchanges are
    # the tiny probe-side DISTINCT and the per-doc hit count)
    plan = executed_plan(spark, "llm_decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan, f"probe join must broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan


def test_domain_mix_pushes_source_filter(spark, sf_dir):
    # excluded domains must be pruned at the parquet scan, not post-scan
    fmt = _formatted(spark, "llm_domain_mix", sf_dir)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("source" in p and "In(" in p for p in pushed), (
        f"source IN-list must reach the scan:\n{pushed}"
    )


def test_pii_scrub_is_map_only(spark, sf_dir):
    # regex scrubbing is per-row: the only exchange allowed is the
    # round-robin rebalance (no hashpartitioning, no join, no aggregate)
    plan = executed_plan(spark, "llm_pii_scrub", sf_dir)
    assert "Exchange hashpartitioning" not in plan, f"scrub must not shuffle:\n{plan}"
    assert "Join" not in plan


def test_rep_filter_two_hash_aggregates(spark, sf_dir):
    # one (doc,n,gram) count + one per-doc reduction; both must partially
    # combine map-side, and nothing else may shuffle
    plan = executed_plan(spark, "llm_rep_filter", sf_dir)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 2, f"expected exactly 2 shuffles, got {n}:\n{plan}"
    assert "partial_count" in plan or "count(1)" in plan


def test_funnel_single_shuffle_no_join(spark, sf_dir):
    # the whole three-stage funnel must be one groupBy(user_id) exchange;
    # the oracle's two re-joins of the event table must NOT appear
    plan = executed_plan(spark, "win_funnel", sf_dir)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, f"expected exactly 1 shuffle (user_id), got {n}:\n{plan}"
    assert "Join" not in plan


def test_merge_upsert_single_shuffle(spark, sf_dir):
    # union + key window: one exchange on the merge key, no join
    plan = executed_plan(spark, "sql_merge_upsert", sf_dir)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, f"expected exactly 1 shuffle (merge key), got {n}:\n{plan}"
    assert "Join" not in plan


def test_ann_recall_broadcasts_queries(spark, sf_dir):
    # both branches' query panels are tiny → every join touching the corpus
    # must broadcast its small side; assignment argmax stays map-combining
    plan = executed_plan(spark, "llm_ann_recall", sf_dir)
    assert "partial_max" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_line_dedup_shuffles_digests_not_text(spark, sf_dir):
    # dedup window must exchange on the md5 digest column (lh), never on
    # raw line text; reassembly exchanges on doc_id
    plan = executed_plan(spark, "llm_line_dedup", sf_dir)
    assert re.search(r"Exchange hashpartitioning\(lh", plan), (
        f"dedup exchange must key on the line digest:\n{plan}"
    )
    assert "CartesianProduct" not in plan


def test_dataset_split_is_zero_shuffle_projection(spark, sf_dir):
    # split assignment must be a free column on the scan: no exchange, and
    # the scan reads only the key column
    plan = executed_plan(spark, "llm_dataset_split", sf_dir)
    assert "Exchange" not in plan, f"dataset split must not shuffle:\n{plan}"
    fmt = _formatted(spark, "llm_dataset_split", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
    assert m and m.group(1).split(":")[0] == "doc_id", "scan must read only doc_id"


def test_agg_corr_is_single_exchange(spark, sf_dir):
    # five exact sums in ONE partial+final hash aggregate — same exchange
    # shape as a plain per-group SUM
    plan = executed_plan(spark, "agg_corr", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "partial" in plan.lower()


def test_join_outer_preaggregates_orders(spark, sf_dir):
    # the orders side must aggregate BEFORE the full join (exchange carries
    # one row per customer, not per order) and full outer must not broadcast
    plan = executed_plan(spark, "join_outer", sf_dir)
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "BroadcastHashJoin" not in plan
    join_pos = plan.index("SortMergeJoin")
    agg_pos = plan.index("HashAggregate")
    assert agg_pos > join_pos, "orders pre-aggregate should sit under the join"


def test_ts_rolling_is_one_exchange_one_window(spark, sf_dir):
    plan = executed_plan(spark, "ts_rolling", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "RangeFrame" in plan, "rolling frame must be a RANGE frame"


def test_win_retention_has_no_join(spark, sf_dir):
    # the activity calendar formulation must not plan a join or a
    # per-event distinct: one user-keyed exchange + one tiny final agg
    plan = executed_plan(spark, "win_retention", sf_dir)
    assert "Join" not in plan, f"retention must be join-free:\n{plan}"
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan


def test_emb_lsh_has_no_all_pairs_join(spark, sf_dir):
    # candidates must come from band-bucket expansion, never a cartesian /
    # nested-loop pairing of the corpus with itself
    plan = executed_plan(spark, "llm_emb_lsh", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_prep_two_exchanges_pushed_filter(spark, sf_dir):
    # the composed filter->dedup->split->report pipeline must stay ONE plan:
    # exactly two shuffles (digest, report) and the length gate pushed into
    # the parquet scan below the dedup shuffle
    plan = executed_plan(spark, "llm_corpus_prep", sf_dir)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 2, f"expected exactly 2 shuffles, got {n}:\n{plan}"
    fmt = _formatted(spark, "llm_corpus_prep", sf_dir)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("n_chars" in p for p in pushed), f"length gate must reach the scan:\n{pushed}"


def test_dq_rules_one_pass_per_table(spark, sf_dir):
    # the fused rule audit reads lineitem ONCE (two range rules + the
    # referential check share the scan through the orders-key left join);
    # total parquet scans are 5: lineitem x1, orders x2 (full-row aggregate
    # + key-only join side), customer x1, events x1 — down from 7 in the
    # rule-per-scan formulation
    fmt = _formatted(spark, "dq_rules", sf_dir)
    ops = re.findall(r"^\s*\(\d+\)\s+Scan parquet", fmt, re.M)
    assert len(ops) == 5, f"expected 5 parquet scans, got {len(ops)}:\n{fmt}"
    li_scans = len(re.findall(r"Location:.*lineitem", fmt))
    assert li_scans == 1, f"lineitem must be scanned exactly once, got {li_scans}"


def test_tfidf_shares_tf_aggregation(spark, sf_dir):
    # doc_freq derives from the persisted tf table instead of a second full
    # tokenize pass: the plan must consume the shared InMemoryRelation and
    # scan raw documents at most twice (tf build + the 1-row n_docs count)
    fmt = _formatted(spark, "llm_tfidf", sf_dir)
    assert "InMemoryTableScan" in fmt, "tf must be a shared materialized table"
    ops = re.findall(r"^\s*\(\d+\)\s+Scan parquet", fmt, re.M)
    assert len(ops) <= 2, f"documents scanned {len(ops)}x — tf stage not shared:\n{fmt}"


def test_sorted_skip_filter_reaches_scan(spark, sf_dir):
    # the read-back side of the sort-clustered write must push the shipdate
    # range into the parquet scan — pushed filters + tight per-file min/max
    # from the sorted layout are what make row-group skipping fire
    fmt = _formatted(spark, "snk_sorted_skip", sf_dir)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("l_shipdate" in p and "GreaterThanOrEqual" in p for p in pushed), (
        f"shipdate range must reach the sorted scan:\n{pushed}"
    )


def test_runtime_filter_injects_bloom(spark, sf_dir):
    # with the operator's thresholds the optimizer must turn the selective
    # dim predicate into a bloom filter evaluated on the fact side
    df = SPECS["join_runtime_filter"].builder(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in opt, f"bloom runtime filter not injected:\n{opt[:2000]}"


def test_histogram_single_aggregate_pass(spark, sf_dir):
    # one scan, one exchange (the bin-keyed aggregate) — the 100 TB profile
    # shape; a second exchange would mean the bin math broke partial agg
    plan = executed_plan(spark, "agg_histogram", sf_dir)
    assert plan.count("Exchange") <= 1, f"histogram should be one exchange:\n{plan}"
    assert "partial_count" in plan or "HashAggregate" in plan


def test_concurrency_window_is_day_partitioned(spark, sf_dir):
    # the sweep-line window must partition by day — a global-ordering sweep
    # (empty partition spec) serializes the whole corpus through one task
    plan = executed_plan(spark, "ts_concurrency", sf_dir)
    assert re.search(r"windowspecdefinition\(day", plan), (
        f"sweep window must key on day:\n{plan[:2000]}"
    )
    assert "SinglePartition" not in plan, (
        f"sweep must not collapse to a single partition:\n{plan}"
    )


def test_lm_score_derives_counts_from_one_gram_pass(spark, sf_dir):
    # the bigram table c2 and prefix table c1 must derive from the per-doc
    # gram aggregate (one corpus tokenize pass): all three consumers (c2
    # chain, c1 chain, scoring join) read the PERSISTED gram table, so every
    # documents FileScan in the printed plan sits inside the one cached
    # relation (the toString inlines the cached child per InMemoryTableScan
    # — execution fills the cache with a single corpus scan)
    df = SPECS["llm_ngram_lm_score"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ims = plan.count("InMemoryTableScan")
    n_docs = plan.count("documents.parquet")
    assert n_ims >= 3, f"gram aggregate must be cached and reused 3x:\n{plan[:2000]}"
    assert n_docs <= n_ims, (
        f"a documents scan escaped the cached gram relation "
        f"(re-tokenize pass): {n_docs} scans vs {n_ims} cache reads\n{plan[:2000]}"
    )


# --- round-5 batch-2 additions ----------------------------------------------


def test_sql_q4_decorrelates_exists(spark, sf_dir):
    # the correlated EXISTS must plan as ONE semi join, not a per-row
    # re-execution of the inner query
    plan = executed_plan(spark, "sql_q4", sf_dir)
    assert "LeftSemi" in plan, f"EXISTS should decorrelate to a semi join:\n{plan}"
    assert "CartesianProduct" not in plan


def test_sql_q18_semi_join_and_topk(spark, sf_dir):
    plan = executed_plan(spark, "sql_q18", sf_dir)
    assert "LeftSemi" in plan, "IN (grouped subquery) should plan as a semi join"
    assert "TakeOrderedAndProject" in plan, "ORDER BY+LIMIT must not be a global sort"


def test_agg_argmax_is_single_pass(spark, sf_dir):
    # max_by must keep the groupwise-argmax to ONE aggregate over ONE scan —
    # no join back, and exactly one hash-partitioning exchange (on the group
    # key); the oracle's two-scan join-back shape is what this replaces
    plan = executed_plan(spark, "agg_argmax", sf_dir)
    assert "Join" not in plan, f"argmax must not join back:\n{plan}"
    assert plan.count("Exchange hashpartitioning") == 1


def test_ts_ewma_single_window_exchange(spark, sf_dir):
    # 8 lag() terms must share ONE window sort over ONE exchange — the plan
    # must not stack one Window node per lag
    plan = executed_plan(spark, "ts_ewma", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") <= 2, f"lag chain must share a window:\n{plan}"


def test_schema_evolution_scan_prunes_columns(spark, sf_dir):
    fmt = _formatted(spark, "src_schema_evolution", sf_dir)
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", fmt):
        cols = [c.split(":")[0] for c in m.split(",") if c]
        assert len(cols) <= 3, f"merged-schema scan should prune to <=3 cols, got {cols}"


def test_doc_shard_no_global_sort(spark, sf_dir):
    # the shard/pos window must partition by shard (per-shard sorts), never a
    # single-partition global sort
    plan = executed_plan(spark, "llm_doc_shard", sf_dir)
    assert "Exchange SinglePartition" not in plan, (
        f"sharding must not serialize into one partition:\n{plan}"
    )


def test_skew_kurt_single_aggregate(spark, sf_dir):
    # four power sums must ride ONE hash aggregate — no join, one exchange
    plan = executed_plan(spark, "agg_skew_kurt", sf_dir)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bitmap_distinct_carries_bitmaps_not_values(spark, sf_dir):
    # two-level aggregate: (group, bucket) bitmap build then per-group merge —
    # the exchange must be the bucketed partial, not a count(distinct) expand
    plan = executed_plan(spark, "agg_bitmap_distinct", sf_dir)
    assert "bitmap_construct_agg" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ngram_novelty_reuses_shingle_partitioning(spark, sf_dir):
    # round-11 shape: the (doc_id, s) dedup AND the first-seen min-window
    # share ONE explicit repartition("s") exchange (hashpartitioning(s)
    # satisfies the dedup's (doc_id, s) clustering), so the only hash
    # exchanges are that one plus the final per-doc aggregate — the old
    # third exchange (distinct on (doc_id, s)) must not come back
    plan = executed_plan(spark, "llm_ngram_novelty", sf_dir)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_median_smooth_single_window(spark, sf_dir):
    plan = executed_plan(spark, "win_median_smooth", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") <= 2


def test_join_dpp_injects_dynamic_pruning(spark, sf_dir):
    # the fact scan must carry a dynamicpruning subquery on its partition
    # column — only dim-surviving partitions are ever opened
    fmt = _formatted(spark, "join_dpp", sf_dir)
    assert "dynamicpruning" in fmt.lower(), f"no dynamic partition pruning:\n{fmt[:2000]}"


def test_snk_compact_collapses_file_count(spark, sf_dir):
    from air_quality_data_pipeline_spark.sources.queries import snk_compact
    import pathlib

    SPECS["snk_compact"].builder(spark, sf_dir).count()
    frag, compact = snk_compact.last_paths
    n_frag = len(list(pathlib.Path(frag).glob("part-*.parquet")))
    n_compact = len(list(pathlib.Path(compact).glob("part-*.parquet")))
    assert n_frag == 64
    assert n_compact <= 4, f"compaction left {n_compact} files"


def test_sql_lateral_decorrelates(spark, sf_dir):
    plan = executed_plan(spark, "sql_lateral", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"lateral must decorrelate to an equi-join, not a per-row loop:\n{plan}"
    )


def test_no_accidental_cartesian_anywhere(spark, sf_dir):
    """Sweep EVERY registered batch query's physical plan for
    CartesianProduct — the plan node that turns 100 TB into heat death.
    join_cross is the one operator allowed to produce it (explicit
    crossJoin of two 5-row dimensions; AQE usually plans even that as a
    broadcast NL join). Streaming builders are skipped: building them runs
    a full query to completion, and their plans are covered by their own
    gates."""
    offenders = []
    for name, spec in SPECS.items():
        if "streaming" in spec.tags or "timewindow" in spec.tags or name == "join_cross":
            continue
        try:
            plan = spec.builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # building must never fail either
            offenders.append(f"{name}: build error {exc}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian (or build failure) in: {offenders}"


def test_scalar_functions_never_shuffle(spark, sf_dir):
    """Every 'function'-tagged operator must be pure per-row map work —
    zero shuffle exchanges in its executed plan. A scalar function that
    grows a shuffle is a planning regression (the one structural
    exception, f_map_build, aggregates into its map and is exempted)."""
    offenders = []
    for name, spec in SPECS.items():
        if "function" not in spec.tags or name == "f_map_build":
            continue
        plan = spec.builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        n = plan.count("Exchange hashpartitioning")
        if n:
            offenders.append(f"{name}: {n} shuffles")
    assert not offenders, f"scalar functions grew shuffles: {offenders}"


# --- TPC-H completion batch (sql_queries.py §2.P) ----------------------------


def test_sql_q17_decorrelates_per_part_avg(spark, sf_dir):
    """Q17's correlated scalar AVG must become ONE aggregate over lineitem
    grouped by partkey joined back — never a per-row re-execution (which
    would be O(n x parts)) and never a cartesian."""
    plan = executed_plan(spark, "sql_q17", sf_dir)
    assert "partial_sum" in plan, "per-part average must be a partial+final aggregate"
    assert "CartesianProduct" not in plan
    # the decorrelated aggregate joins back on the part key
    assert "l_partkey" in plan


def test_sql_q21_plans_semi_and_anti(spark, sf_dir):
    """Q21's correlated EXISTS + NOT EXISTS must plan as a semi join plus an
    anti join on l_orderkey — the double correlation is the whole point of
    the shape."""
    plan = executed_plan(spark, "sql_q21", sf_dir)
    assert "LeftSemi" in plan, "EXISTS must plan as a left semi join"
    assert "LeftAnti" in plan, "NOT EXISTS must plan as a left anti join"
    assert "TakeOrderedAndProject" in plan


def test_sql_q20_nested_correlation_decorrelates(spark, sf_dir):
    """Q20's IN -> HAVING -> correlated-scalar chain: the outer IN plans as
    a semi join and the per-part 20% threshold as an aggregate joined on the
    group key (no re-execution, no cartesian)."""
    plan = executed_plan(spark, "sql_q20", sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_sql_q19_derives_pushable_residuals(spark, sf_dir):
    """The OR-of-ANDs disjunction must yield implied per-table filters that
    reach the part scan (brand/size legs) instead of evaluating the whole
    OR post-join only."""
    fmt = _formatted(spark, "sql_q19", sf_dir)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("p_brand" in p for p in pushed), (
        f"implied p_brand filter must reach the part scan:\n{pushed}"
    )
    assert any("l_quantity" in p for p in pushed), (
        f"implied l_quantity range must reach the lineitem scan:\n{pushed}"
    )


def test_sql_q10_topk_is_take_ordered(spark, sf_dir):
    plan = executed_plan(spark, "sql_q10", sf_dir)
    assert "TakeOrderedAndProject" in plan, "q10's top-20 must not be a global sort"


def test_sql_q5_broadcasts_dims(spark, sf_dir):
    """The snowflake's small sides (nation, region, supplier at fixture
    scale) must broadcast — the lineitem fact side is never shuffled for a
    dim join."""
    plan = executed_plan(spark, "sql_q5", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sql_q13_outer_join_keeps_residual_in_on(spark, sf_dir):
    """Q13's priority filter must live in the join condition (right-side
    filter under LeftOuter), not a post-join WHERE — otherwise unmatched
    customers would be dropped and the c_count=0 bucket lost."""
    plan = executed_plan(spark, "sql_q13", sf_dir)
    assert "LeftOuter" in plan
    # In executedPlan.toString() parents print BEFORE children, so the
    # priority predicate must only appear at/below the LeftOuter join line
    # (join condition or orders-side Filter) — a post-join WHERE would put
    # it in a Filter line ABOVE the join and silently drop the c_count=0
    # bucket.
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "LeftOuter" in ln)
    above = [ln for ln in lines[:join_at] if "o_orderpriority" in ln]
    assert not above, f"priority filter migrated above the outer join:\n{above}"
    assert any("o_orderpriority" in ln for ln in lines[join_at:]), (
        "priority filter missing from the join condition / orders side"
    )
    # Value-level backstop at sf0.01 (sf0.001 has no customer whose every
    # order is urgent, so the c_count=0 bucket is legitimately empty there):
    # sum(custdist) must equal |customer| — the outer join preserves EVERY
    # customer — and the c_count=0 bucket must be non-empty (1 such
    # customer exists in the sf0.01 fixture).
    from tests.conftest import SF_ORACLE

    out = SPECS["sql_q13"].builder(spark, SF_ORACLE)
    total = out.agg({"custdist": "sum"}).collect()[0][0]
    n_cust = spark.read.parquet(f"{SF_ORACLE}/customer.parquet").count()
    assert total == n_cust, "outer join dropped customers (sum custdist != |customer|)"
    zero_bucket = out.filter("c_count = 0").count()
    assert zero_bucket > 0, "c_count=0 bucket empty: outer join degenerated to inner"


# --- graph / recursive / observe batch ---------------------------------------


def test_pagerank_iteration_broadcasts_rank_table(spark, sf_dir):
    """Each PageRank round must broadcast the |V|-row rank/degree tables to
    the edge set — the edges (the only big relation) are never shuffled per
    iteration, and the inflow reduce has map-side partials."""
    plan = executed_plan(spark, "graph_pagerank", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_sql_recursive_plans_recursion_not_unrolling(spark, sf_dir):
    """WITH RECURSIVE must plan a UnionLoop (Spark 4's recursive-CTE
    operator) — not a hand-unrolled join cascade, and not a cartesian."""
    plan = executed_plan(spark, "sql_recursive", sf_dir)
    assert "UnionLoop" in plan or "CTERelation" in plan or "Recursion" in plan, (
        f"no recursive operator found in plan:\n{plan[:2000]}"
    )
    assert "CartesianProduct" not in plan


def test_sql_recursive_row_limit_is_query_scoped(spark, sf_dir):
    """sql_recursive raises cteRecursionRowLimit to 1e9 in the caller's own
    session, as a declared query conf: every OTHER registered query must
    still run under the 1M default guard, so a runaway recursion there is
    still caught (ADVICE r5)."""
    df = SPECS["sql_recursive"].builder(spark, sf_dir)
    assert df.sparkSession is spark
    assert df.count() > 0
    SPECS["agg_stats"].builder(spark, sf_dir)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == "1000000"


def test_snk_zorder_pushes_both_dimensions(spark, sf_dir):
    """The Z-ordered read-back must push BOTH predicates (date range and
    partkey range) to the clustered parquet scan — that's the pair the
    Morton layout turns into row-group skips."""
    df = SPECS["snk_zorder"].builder(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    fmt = df._jdf.queryExecution().explainString(mode)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("l_shipdate" in p and "l_partkey" in p for p in pushed), (
        f"both z-order dimensions must reach the scan:\n{pushed}"
    )


def test_udtf_split_filters_before_python(spark, sf_dir):
    """The doc_id probe predicate must land on the parquet scan, BEFORE the
    lateral UDTF — only the probed slice crosses the Python boundary."""
    df = SPECS["udtf_split"].builder(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    fmt = df._jdf.queryExecution().explainString(mode)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    assert any("doc_id" in p for p in pushed), f"doc_id must push to the scan:\n{pushed}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDTF" in plan or "Generate" in plan


def test_mv_incr_agg_is_join_free_partial_merge(spark, sf_dir):
    """Incremental MV maintenance must be union+re-aggregate (merge of
    algebraic partials) — no join anywhere, and the merge exchange carries
    (key, partials) cells only."""
    plan = executed_plan(spark, "mv_incr_agg", sf_dir)
    assert "Join" not in plan, f"partial merge must not join:\n{plan}"
    assert plan.count("Exchange hashpartitioning") <= 3


def test_join_spatial_is_equi_join_not_cartesian(spark, sf_dir):
    """The radius join must plan as an EQUI-join on the integer cell pair
    (candidates-then-verify) — never a nested-loop/cartesian over the full
    point sets, which is what the naive radius predicate would produce."""
    plan = executed_plan(spark, "join_spatial", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell_la" in plan and "cell_lo" in plan
    assert "Generate explode" in plan or "Generate" in plan  # the 3x3 ring


# --- round-6 additions -------------------------------------------------------


def test_agg_filtered_is_single_pass(spark, sf_dir):
    """FILTER-clause metrics must ride ONE aggregate over ONE scan — the
    per-metric-subquery formulation would multiply full scans."""
    plan = executed_plan(spark, "agg_filtered", sf_dir)
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_ts_interval_merge_is_single_exchange(spark, sf_dir):
    """Interval coalescing = gaps-and-islands: one window exchange on
    user_id, and the island aggregate reuses the same partitioning (no
    second shuffle, no interval self-join)."""
    plan = executed_plan(spark, "ts_interval_merge", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan


def test_join_scd2_uses_window_not_range_join(spark, sf_dir):
    """The SCD-2 lookup must be the union+window formulation — a BETWEEN
    join would plan a (broadcast) nested loop over epoch intervals."""
    plan = executed_plan(spark, "join_scd2", sf_dir)
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts_mad_outliers_broadcasts_stats(spark, sf_dir):
    """Both stats tables (median, MAD) broadcast back onto the stream;
    the deviation frame is persisted so BOTH its consumers (the MAD
    aggregate and the final flagging pass) read the cache instead of
    re-scanning and re-joining events. (FileScans inside the rendered
    InMemoryRelation build plan are the one-time cache fill.)"""
    plan = executed_plan(spark, "ts_mad_outliers", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert plan.count("InMemoryTableScan") >= 2, (
        "deviation frame not cached for both consumers"
    )


def test_interval_overlap_is_grid_equi_join(spark, sf_dir):
    """The overlap join must run as a (user, cell) hash equi-join with a
    post-filter — a bare inequality join would plan a per-key nested
    loop, quadratic in intervals-per-user at scale."""
    plan = executed_plan(spark, "join_interval_overlap", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pref_pairs_is_one_exchange_aggregate(spark, sf_dir):
    """The min/max(struct) argmin+argmax must plan as a single partial→final
    hash aggregate: exactly ONE shuffle exchange (on the grouping key),
    never a window or self-join per extreme."""
    plan = executed_plan(spark, "llm_pref_pairs", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_text_normalize_crosses_python_once(spark, sf_dir):
    """The NFC pandas UDF is the only Python boundary — exactly one
    ArrowEvalPython node, zero shuffles (pure per-row map work), and no
    row-at-a-time BatchEvalPython anywhere."""
    plan = executed_plan(spark, "llm_text_normalize", sf_dir)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_countmin_sketch_is_single_scan(spark, sf_dir):
    """The sketch build must scan lineitem ONCE (posexplode of the d hashes),
    not d unioned scans — at 100 TB the union shape pays the scan d times."""
    fmt = _formatted(spark, "agg_countmin_freq", sf_dir)
    big_scans = len(re.findall(r"Scan parquet.*lineitem", fmt))
    # one scan for the sketch + one for the exact-anchor branch
    assert big_scans <= 2, fmt
    assert "Generate" in executed_plan(spark, "agg_countmin_freq", sf_dir)


def test_asof_nearest_is_one_window_one_exchange(spark, sf_dir):
    """Both directional candidates (preceding-frame last + following-frame
    first) must ride ONE user_id exchange and ONE sort — Catalyst stacks
    the two frames as adjacent Window nodes over the same sort order (no
    re-sort between them); the banded-join formulation would fan out
    probe x clicks-in-band."""
    plan = executed_plan(spark, "join_asof_nearest", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan
    assert "Join" not in plan


def test_bm25_topk_is_take_ordered_and_single_tf_agg(spark, sf_dir):
    """The top-10 must plan as TakeOrderedAndProject (no global sort) and
    the tf aggregation must compute ONCE (scoped_persist shares it with
    the doc-frequency rollup — an InMemoryTableScan, not a second
    tokenize)."""
    plan = executed_plan(spark, "llm_bm25_score", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan


def test_sliding_corr_two_exchanges_one_window(spark, sf_dir):
    """Day-grain aggregate then rolling window: exactly the (user, day)
    agg exchange + the user window exchange, all six rolling sums in one
    Window node."""
    plan = executed_plan(spark, "ts_sliding_corr", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Window") == 1, plan


def test_period_over_period_broadcasts_dims(spark, sf_dir):
    """The fact aggregate must broadcast customer/nation (no fact-side
    shuffle for the dim joins) and the lag window input is the aggregated
    grain."""
    plan = executed_plan(spark, "ts_period_over_period", sf_dir)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_graph_cc_broadcasts_labels_every_round(spark, sf_dir):
    """Each propagation round joins the |V|-row label table to edges as a
    BROADCAST (the edge set is never reshuffled); 3 rounds -> at least 3
    broadcast joins and no cartesian."""
    plan = executed_plan(spark, "graph_cc", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_dup_spans_no_text_past_the_scan(spark, sf_dir):
    """Every exchange in the dup-span pipeline carries (doc_id, pos,
    digest) — the raw text column must not appear in any exchange input
    (it dies at the shingle projection)."""
    fmt = _formatted(spark, "llm_dup_spans", sf_dir)
    import re as _re

    # crude but effective: no Exchange block's input schema mentions text#
    for m in _re.finditer(r"Arguments: hashpartitioning\([^\n]*", fmt):
        assert "text#" not in m.group(0), m.group(0)


def test_ks_test_reuses_window_exchange(spark, sf_dir):
    """dq_ks_test: cell pre-aggregation shuffles once on (source, cell),
    the ECDF windows + final max-aggregate share ONE event_type exchange
    and ONE sort — never a join, never a third shuffle."""
    plan = executed_plan(spark, "dq_ks_test", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_entropy_is_two_bounded_exchanges(spark, sf_dir):
    """agg_entropy: one (source, hour) cell aggregate (≤ sources×24 rows on
    the exchange), one event_type exchange shared by the total-window and
    the final aggregate. No join, single scan."""
    plan = executed_plan(spark, "agg_entropy", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_uniqueness_is_single_pass_multi_distinct(spark, sf_dir):
    """dq_uniqueness: all 5 candidate-key distincts plan as ONE Expand-based
    multi-distinct over ONE scan — no per-candidate re-scan, no join."""
    plan = executed_plan(spark, "dq_uniqueness", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan
    assert "Join" not in plan


def test_2hop_is_equi_joins_no_cartesian(spark, sf_dir):
    """graph_2hop (round-10 sparse-bitmap form): reach words build via
    equi-joins + bit_or hash aggregates — never a cartesian, never a pair
    row; the old wedge-distinct + LeftAnti machinery must NOT come back
    (it expanded sum-of-degree² path rows — 61.8M at sf0.1)."""
    plan = executed_plan(spark, "graph_2hop", sf_dir)
    assert "CartesianProduct" not in plan
    assert "bit_or" in plan, plan
    assert "bit_count" in plan, plan
    assert "LeftAnti" not in plan, "wedge-distinct/anti-join form resurfaced"


def test_kcore_final_round_broadcasts_the_core(spark, sf_dir):
    """graph_kcore: the surviving node list is broadcast onto the edge set
    (twice — both endpoints); localCheckpoint keeps the executed plan flat
    (the loop's history is NOT in the final plan)."""
    plan = executed_plan(spark, "graph_kcore", sf_dir)
    # >= 2: the memoized edge build's cached plan is embedded in the plan
    # string and contributes its own broadcast joins
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_sentence_split_is_pure_map(spark, sf_dir):
    """llm_sentence_split: per-row array algebra only — zero exchanges,
    zero Python boundaries."""
    plan = executed_plan(spark, "llm_sentence_split", sf_dir)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    """llm_zipf_fit: the top-100 cut plans as TakeOrderedAndProject (no
    global sort of the vocabulary); no Python boundary anywhere."""
    plan = executed_plan(spark, "llm_zipf_fit", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_forecast_baseline_broadcasts_the_model(spark, sf_dir):
    """ts_forecast_baseline: the ≤ sources×7×24-cell model joins the
    held-out slice as a BROADCAST — the fact table never shuffles for the
    join; no cartesian."""
    plan = executed_plan(spark, "ts_forecast_baseline", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_cdc_chunk_is_pure_map(spark, sf_dir):
    """llm_cdc_chunk: boundary detection + chunk digests are one per-row
    projection, inline() expands map-side — zero exchanges, zero Python."""
    plan = executed_plan(spark, "llm_cdc_chunk", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan  # the inline() expansion
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mmr_tail_is_panel_bounded_no_cartesian(spark, sf_dir):
    """llm_mmr_diversify: the greedy tail only ever equi-joins on qid /
    (qid, vec_id) — no cartesian anywhere; the candidate and pair tables
    are persisted once and reused across rounds."""
    plan = executed_plan(spark, "llm_mmr_diversify", sf_dir)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_weighted_median_shares_one_group_exchange(spark, sf_dir):
    """agg_weighted_median: the ordered cumulative window, the partition
    total, and the final aggregate all key on the group — ONE
    hash-partition exchange total, no join."""
    plan = executed_plan(spark, "agg_weighted_median", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_sketch_overlap_is_two_scans_one_broadcast(spark, sf_dir):
    """agg_sketch_overlap: exact side and sketch side each scan once; the
    1-row estimate BROADCASTS onto the 1-row exact anchor (never a
    shuffle join of scalars)."""
    plan = executed_plan(spark, "agg_sketch_overlap", sf_dir)
    assert plan.count("Scan parquet") == 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_outlier_iqr_broadcasts_fences(spark, sf_dir):
    """dq_outlier_iqr: the ≤|sources|-row fence table joins the stream as
    a BROADCAST; the flag rollup is a plain hash aggregate."""
    plan = executed_plan(spark, "dq_outlier_iqr", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_bfs_final_plan_is_flat_checkpoint(spark, sf_dir):
    """graph_bfs: every hop's expansion lands behind a localCheckpoint, so
    the executed plan is a flat scan of the converged frontier — no join
    history, no cartesian, just the ordered projection (the kcore/kmeans
    loop-over-plans discipline)."""
    plan = executed_plan(spark, "graph_bfs", sf_dir)
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_join_nearest_is_grid_argmin_no_window(spark, sf_dir):
    """join_nearest: candidates come from the grid-cell BROADCAST equi-join
    (never cartesian), and the argmin is a min_by AGGREGATE — one
    hash-partition exchange carrying (key, suppkey, mm) triples, no
    window sort over the candidate fan-out."""
    plan = executed_plan(spark, "join_nearest", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_vocab_coverage_broadcasts_topk_vocab(spark, sf_dir):
    """llm_vocab_coverage: the top-K vocab is TakeOrderedAndProject (no
    global sort) and BROADCASTS onto the exploded corpus — token strings
    never hash-partition; the only corpus exchange is the per-doc count
    aggregate."""
    plan = executed_plan(spark, "llm_vocab_coverage", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rouge_panel_broadcasts_both_sides(spark, sf_dir):
    """llm_rouge_n: both the 10-doc reference bigram set and the per-ref
    totals BROADCAST; doc_id range predicates reach the parquet scan; no
    cartesian pair expansion anywhere."""
    plan = executed_plan(spark, "llm_rouge_n", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(doc_id)" in plan, plan


def test_span_mask_is_pure_map(spark, sf_dir):
    """llm_span_mask: span selection, both projections and both digests are
    ONE per-row Catalyst projection — zero exchanges, zero Python."""
    plan = executed_plan(spark, "llm_span_mask", sf_dir)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sample_weighted_plans_partial_topn(spark, sf_dir):
    """llm_sample_weighted: the per-stratum rank plans as WindowGroupLimit
    (partial top-N BEFORE the exchange — each map task forwards at most
    20 rows per source), one exchange, no join: the at-scale shape the
    exp-keys scheme promises."""
    plan = executed_plan(spark, "llm_sample_weighted", sf_dir)
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_adamic_adar_broadcasts_degrees_no_cartesian(spark, sf_dir):
    """graph_adamic_adar: the |V|-row degree table BROADCASTS onto the
    map-side credit stream; the triangle expansion is the degree-bounded
    equi-join pipeline (never cartesian — the only nested-loop join is
    the cached edge build's scalar mean threshold)."""
    plan = executed_plan(spark, "graph_adamic_adar", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # triangle -> 3 credits, map-side


def test_gaps_islands_is_one_exchange(spark, sf_dir):
    """win_gaps_islands: dense_rank over the raw stream (no pre-distinct
    shuffle) and the island aggregate reuses the user_id partitioning —
    ONE exchange end-to-end, no join."""
    plan = executed_plan(spark, "win_gaps_islands", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_kanon_class_table_is_bounded_single_scan(spark, sf_dir):
    """dq_kanon: ONE scan of the corpus builds the domain-bounded class
    table; the 3-row k panel arrives by broadcast (nested-loop on a
    3-row build side is the right plan, not a shuffle join)."""
    plan = executed_plan(spark, "dq_kanon", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_containment_computes_intersection_once(spark, sf_dir):
    """llm_ngram_containment: ONE pair-aggregate exchange (the unordered
    intersection), directions fanned map-side by explode, size table
    joined broadcast — never a second pair shuffle, never cartesian."""
    plan = executed_plan(spark, "llm_ngram_containment", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tok_fertility_is_one_scan_one_exchange(spark, sf_dir):
    """llm_tok_fertility: both lexers run inside one codegen projection;
    the rollup is a single partial/final aggregate on the bounded
    (source, lang) key — one scan, one exchange, zero Python."""
    plan = executed_plan(spark, "llm_tok_fertility", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_mm_dedup_binary_blobs_die_at_the_scan(spark, sf_dir):
    """mm_dedup_binary: payload bytes reduce to (digest, len) map-side —
    no exchange input carries the payload column; the kind spread uses
    presence flags, not a count-distinct Expand (one exchange total)."""
    plan = executed_plan(spark, "mm_dedup_binary", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Expand" not in plan
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\([^\n]*", plan):
        assert "payload#" not in m.group(0), m.group(0)


def test_twa_is_one_exchange_window_plus_agg(spark, sf_dir):
    """ts_twa: the lead() window and the integral aggregate both key on
    (event_type, day) — ONE exchange serves both; single scan, no join,
    no Python."""
    plan = executed_plan(spark, "ts_twa", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan


def test_theilsen_pairs_read_the_cached_daily(spark, sf_dir):
    """ts_theilsen: the corpus-sized daily aggregate is persisted — both
    pair-join branches hit InMemoryTableScan (one events pass total); the
    pair stage is a type-keyed equi-join, never cartesian."""
    plan = executed_plan(spark, "ts_theilsen", sf_dir)
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "CartesianProduct" not in plan


def test_ip_cidr_never_shuffles(spark, sf_dir):
    """f_ip_cidr: parse + bit math + range predicate are one codegen
    projection — zero exchanges (also enforced by the function-tag sweep;
    this pins the specific op)."""
    plan = executed_plan(spark, "f_ip_cidr", sf_dir)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_sft_format_is_pure_map(spark, sf_dir):
    """llm_sft_format: split + slice + template render + digest are one
    codegen projection — zero exchanges, zero Python."""
    plan = executed_plan(spark, "llm_sft_format", sf_dir)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_gini_shares_one_source_exchange(spark, sf_dir):
    """agg_gini: the ascending rank window and the final aggregate both
    key on source — ONE exchange, one scan, no join (the rank identity
    avoids the quadratic pairwise-difference expansion entirely)."""
    plan = executed_plan(spark, "agg_gini", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_char_entropy_is_pure_map(spark, sf_dir):
    """llm_char_entropy: the alphabet counts and the entropy chain fold
    into one codegen projection — zero exchanges, zero Generate, zero
    Python."""
    plan = executed_plan(spark, "llm_char_entropy", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan
    assert "EvalPython" not in plan


def test_interleave_is_one_exchange_no_global_window(spark, sf_dir):
    """llm_dataset_interleave: rank window and per-source count stack on
    ONE source exchange; crucially there is NO empty-partition-spec
    window (a global row_number would funnel the corpus through one
    partition — the shape this operator exists to avoid)."""
    plan = executed_plan(spark, "llm_dataset_interleave", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_volume_anomaly_is_cell_bounded(spark, sf_dir):
    """dq_volume_anomaly: one corpus scan into the (type, day) cell
    aggregate; the leave-one-out stats are window sums on the bounded
    cell table — no join, no second scan."""
    plan = executed_plan(spark, "dq_volume_anomaly", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_winsorize_broadcasts_fences(spark, sf_dir):
    """llm_winsorize: the |sources|-row fence table joins the clamp pass
    as a BROADCAST; the clamp itself is codegen greatest/least (no
    Python, no sort-merge)."""
    plan = executed_plan(spark, "llm_winsorize", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_markup_strip_is_pure_projection(spark, sf_dir):
    """llm_markup_strip: synthesize→strip→measure is ONE codegen projection
    over one scan — zero exchanges, zero Python, no generator."""
    plan = executed_plan(spark, "llm_markup_strip", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan
    assert "Generate" not in plan


def test_url_extract_fans_out_map_side(spark, sf_dir):
    """llm_url_extract: codegen regexp_extract_all + generator explode (no
    Python), one corpus scan; only the bounded domain grain shuffles."""
    plan = executed_plan(spark, "llm_url_extract", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


def test_bigram_entropy_reuses_the_cell_cache(spark, sf_dir):
    """llm_char_bigram_entropy: the (source, bigram) cell table is
    persisted — the H2 branch and the derived unigram marginal both read
    InMemoryTableScan (one corpus explode total); no cartesian, no
    Python."""
    plan = executed_plan(spark, "llm_char_bigram_entropy", sf_dir)
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_changepoint_is_cell_bounded(spark, sf_dir):
    """ts_changepoint: one corpus scan into the (type, day) cell aggregate;
    cumsum/total/argmax windows all ride the type-keyed exchange on the
    bounded cell table — no join, no single-partition funnel."""
    plan = executed_plan(spark, "ts_changepoint", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_drawdown_is_cell_bounded(spark, sf_dir):
    """ts_drawdown: same envelope as ts_changepoint — one corpus collapse,
    windows on the bounded cell table, no join, no global sort."""
    plan = executed_plan(spark, "ts_drawdown", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_reciprocity_joins_the_cached_edge_table(spark, sf_dir):
    """graph_reciprocity: the corpus-sized lag window collapses into a
    persisted bounded edge table; BOTH self-join sides read the cache
    (InMemoryTableScan x2) and the reverse match is a broadcast join."""
    plan = executed_plan(spark, "graph_reciprocity", sf_dir)
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_concentration_broadcasts_the_dim(spark, sf_dir):
    """agg_concentration: supplier dim joins BROADCAST onto the fact scan;
    rank/total windows and the rollup ride one bounded nationkey
    exchange — no sort-merge join, no single-partition funnel."""
    plan = executed_plan(spark, "agg_concentration", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_join_skew_fans_keys_map_side(spark, sf_dir):
    """dq_join_skew: ONE fact scan fans each row to its 3 (key_name,
    key_value) pairs via a generator — not 3 unioned scans; everything
    after runs at the distinct-key grain."""
    plan = executed_plan(spark, "dq_join_skew", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_token_budget_single_partition_is_bounded(spark, sf_dir):
    """llm_token_budget: one corpus collapse exchange; the global
    total/rank windows run on the |sources|-row weight table, so the
    single-partition exchange is a constant-size plan node (domain-
    bounded), not a data funnel — exactly one of each."""
    plan = executed_plan(spark, "llm_token_budget", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Join" not in plan


def test_peak_detect_is_cell_bounded(spark, sf_dir):
    """ts_peak_detect: the ts_changepoint envelope — one corpus collapse,
    one lag/lead window on the bounded cell table, row-local predicate."""
    plan = executed_plan(spark, "ts_peak_detect", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_template_detect_is_one_aggregate(spark, sf_dir):
    """llm_template_detect: fingerprinting is a codegen projection; the
    only corpus exchange is the aggregate on the 16-byte family key."""
    plan = executed_plan(spark, "llm_template_detect", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_blocklist_filter_never_shuffles(spark, sf_dir):
    """llm_blocklist_filter: scoring + action routing is ONE codegen
    projection — zero exchanges, zero Python, text stays map-side."""
    plan = executed_plan(spark, "llm_blocklist_filter", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_modularity_broadcasts_labels_on_cached_edges(spark, sf_dir):
    """graph_modularity: consumes the memoized persisted edge build
    (InMemoryTableScan) with the supplier dim BROADCAST onto both
    endpoints; the community rollup is bounded-table work."""
    plan = executed_plan(spark, "graph_modularity", sf_dir)
    assert plan.count("InMemoryTableScan") >= 1, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_url_canonicalize_is_one_aggregate(spark, sf_dir):
    """llm_url_canonicalize: canonicalization is codegen split_part/regex
    algebra; the only corpus exchange is the aggregate on the canonical
    key (distinct-raw rides it at the collapsed grain)."""
    plan = executed_plan(spark, "llm_url_canonicalize", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_patch_grid_is_pure_generate(spark, sf_dir):
    """mm_patch_grid: metadata-only geometry — one scan, ONE generator
    (linearized patch index, no nested explode), zero exchanges, zero
    Python; the payload column is never read."""
    plan = executed_plan(spark, "mm_patch_grid", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan


def test_clustering_coef_reuses_edge_cache(spark, sf_dir):
    """graph_clustering_coef: consumes the memoized persisted edge build;
    oriented triangle enumeration, no cartesian, no Python."""
    plan = executed_plan(spark, "graph_clustering_coef", sf_dir)
    assert plan.count("InMemoryTableScan") >= 1, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_wilson_ci_is_cell_bounded(spark, sf_dir):
    """agg_wilson_ci: one corpus collapse to (type, n, s) cells; interval
    algebra is row-local on the bounded table."""
    plan = executed_plan(spark, "agg_wilson_ci", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_pad_waste_is_one_aggregate(spark, sf_dir):
    """llm_pad_waste: tokenize + ceil-division in codegen, one map-side
    combined aggregate on the source key."""
    plan = executed_plan(spark, "llm_pad_waste", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_bloom_filter_single_scan_and_bounded_exchange(spark, sf_dir):
    """agg_bloom_filter: the bit set comes from ONE lineitem scan fanned by
    a generator (never k unioned scans); the exact anchor is the only other
    scan and its panel predicate reaches the reader."""
    plan = executed_plan(spark, "agg_bloom_filter", sf_dir)
    assert plan.count("Scan parquet") <= 2, plan
    assert "Generate explode" in plan or "Generate posexplode" in plan, plan
    assert "CartesianProduct" not in plan


def test_skyline_avoids_quadratic_join(spark, sf_dir):
    """win_skyline: the engine shape is the distributed two-level prefix
    scan — NO nested-loop / cartesian anywhere (the O(n²) NOT-EXISTS lives
    only in the oracle), the price-grain running max is a rid-PARTITIONED
    window (never a single-partition sort over the price grain, VERDICT r7
    item 2), and the only unpartitioned window rides the |ranges|-row
    per-range-maxima table."""
    plan = executed_plan(spark, "win_skyline", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every window over the price ordering must carry the rid partition key
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "p_retailprice" in spec:
            assert spec.strip().startswith("rid"), (
                f"price-grain window lacks rid partitioning: {spec}\n{plan}"
            )
    assert "Exchange rangepartitioning(p_retailprice" in plan, plan


def test_markov_single_corpus_exchange(spark, sf_dir):
    """ts_markov_transitions: the corpus crosses exactly ONE hash exchange
    (user_id for the lag window); the bigram aggregate and total window
    ride the bounded cell table."""
    plan = executed_plan(spark, "ts_markov_transitions", sf_dir)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "partial_count" in plan.lower() or "partial" in plan.lower(), plan


def test_funcdep_one_scan(spark, sf_dir):
    """dq_funcdep: stack() fans one lineitem scan to all 4 candidates —
    exactly one scan in the whole plan."""
    plan = executed_plan(spark, "dq_funcdep", sf_dir)
    assert plan.count("Scan parquet") == 1, plan


def test_readability_is_one_aggregate(spark, sf_dir):
    """llm_readability: regex counting stays in the map-side projection;
    the only exchange is the source-grain partial/final aggregate."""
    plan = executed_plan(spark, "llm_readability", sf_dir)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_hits_reuses_edges_and_broadcasts_scores(spark, sf_dir):
    """graph_hits: the persisted edge build is reused by all three matrix
    products (InMemoryTableScan x3) and every score vector joins by
    BROADCAST — the fact tables are scanned exactly once each."""
    plan = executed_plan(spark, "graph_hits", sf_dir)
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ttest_is_cell_bounded_with_broadcast_pairs(spark, sf_dir):
    """agg_ttest: one corpus collapse to |types| stat cells; the pair
    expansion broadcasts — no corpus-sized join side."""
    plan = executed_plan(spark, "agg_ttest", sf_dir)
    assert "InMemoryTableScan" in plan, plan  # stats cells persisted, corpus read once
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_jsd_reuses_token_cells_no_grid(spark, sf_dir):
    """llm_jsd_drift: the (source, token) cell table persists and is reused
    (tokenize runs once); NO cartesian source×vocab grid anywhere."""
    plan = executed_plan(spark, "llm_jsd_drift", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_degree_dist_reuses_memoized_edges(spark, sf_dir):
    """graph_degree_dist: consumes the memoized persisted edge build, then
    two domain-bounded aggregates."""
    plan = executed_plan(spark, "graph_degree_dist", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan


def test_phash_single_python_crossing(spark, sf_dir):
    """mm_phash: exactly one Arrow boundary (the mapInPandas decode+hash);
    the family count is a plain window after it."""
    plan = executed_plan(spark, "mm_phash", sf_dir)
    assert plan.count("MapInPandas") == 1, plan
    assert "Window" in plan


def test_temporal_single_join_then_cells(spark, sf_dir):
    """dq_temporal: one equi-join (no nested loop), then the priority-grain
    aggregate with a map-side partial."""
    plan = executed_plan(spark, "dq_temporal", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in plan.lower(), plan


def test_interarrival_single_corpus_exchange(spark, sf_dir):
    """ts_interarrival: the corpus crosses exactly ONE user-keyed hash
    exchange (the lag window)."""
    plan = executed_plan(spark, "ts_interarrival", sf_dir)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_scene_cut_generator_then_one_doc_exchange(spark, sf_dir):
    """mm_scene_cut: frame fan-out is a pipelined generator; the lag window
    pays one doc-keyed exchange."""
    plan = executed_plan(spark, "mm_scene_cut", sf_dir)
    assert "Generate explode" in plan, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan


def test_bleu_broadcasts_reference_panel(spark, sf_dir):
    """llm_bleu: the clip joins broadcast the constant reference panel —
    candidate grams never shuffle for the panel match."""
    plan = executed_plan(spark, "llm_bleu", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_geomean_one_aggregate(spark, sf_dir):
    """agg_geomean: one scan, one map-side-combined aggregate; ln/1-over-x
    quantization stays in the projection."""
    plan = executed_plan(spark, "agg_geomean", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cov_matrix_cells_persisted_and_broadcast(spark, sf_dir):
    """ts_cov_matrix: one corpus collapse into persisted cells; grid and
    pair join are broadcast on the bounded table."""
    plan = executed_plan(spark, "ts_cov_matrix", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_decay_score_one_exchange(spark, sf_dir):
    """ts_decay_score: anchor broadcast + codegen decay projection; the
    corpus crosses exactly one hash exchange (the type-grain aggregate)."""
    plan = executed_plan(spark, "ts_decay_score", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


# --- round-8 operators --------------------------------------------------------


def test_simhash_neardup_band_bucket_shape(spark, sf_dir):
    """llm_simhash_neardup: candidates come from the ONE groupBy(band, bv)
    bucket exchange (the minhash pairing shape) — never a band self-join
    (two exchanges) and never anything quadratic."""
    plan = executed_plan(spark, "llm_simhash_neardup", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        f"banded candidates must come from the bucket groupBy, not a self-join:\n{plan}"
    )
    assert "Generate" in plan


def test_label_prop_broadcast_loop(spark, sf_dir):
    """graph_label_prop: per round the |V|-row label table broadcasts onto
    the never-reshuffled edge set (the graph_cc loop discipline)."""
    plan = executed_plan(spark, "graph_label_prop", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_chi2_single_corpus_collapse(spark, sf_dir):
    """dq_chi2: the corpus collapses ONCE into the persisted cell table;
    margins/total/dof are broadcast arithmetic on it (without the persist
    barrier Catalyst re-expands the corpus aggregate per consumer —
    observed as ~10 parquet scans)."""
    plan = executed_plan(spark, "dq_chi2", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan


def test_emb_covariance_single_generate(spark, sf_dir):
    """llm_emb_covariance: one generate emits singles + pairs (single
    corpus scan into the persisted cell table); the matrix assembly joins
    broadcast on the bounded cells."""
    plan = executed_plan(spark, "llm_emb_covariance", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, (
        f"matrix assembly must broadcast the 16-row dim stats:\n{plan}"
    )


def test_holt_two_exchange_no_join(spark, sf_dir):
    """ts_holt: daily collapse + type collapse = exactly two hash
    exchanges; the fold is a projection — no window, no join anywhere."""
    plan = executed_plan(spark, "ts_holt", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_cc_shuffle_label_loop_never_broadcasts(spark, sf_dir):
    """graph_cc_shuffle: the whole point is the co-partitioned shuffle
    form of the label loop — no broadcast join may touch the label/size
    keys (node/comp); the edge build's own broadcast of the 1-row mean
    is unrelated and allowed."""
    plan = executed_plan(spark, "graph_cc_shuffle", sf_dir)
    bad = [
        line
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and ("node#" in line or "comp#" in line)
    ]
    assert not bad, f"label loop broadcast where shuffle was declared:\n{bad[:3]}"
    assert any(
        "SortMergeJoin" in line and "node#" in line for line in plan.splitlines()
    ), plan


def test_cross_dedup_bucket_shape_and_no_within_side_pairs(spark, sf_dir):
    """llm_cross_dedup: same bucket-exchange candidate shape as minhash
    (no band self-join, no cartesian); the verify joins must never
    sort-merge the candidate build side (SHUFFLE_HASH build from pairs)."""
    plan = executed_plan(spark, "llm_cross_dedup", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan


def test_sample_bottomk_is_take_ordered(spark, sf_dir):
    # exact-k sampling must plan as per-partition heaps + one k-row merge,
    # never a global sort of the full table
    plan = executed_plan(spark, "sample_bottomk", sf_dir)
    assert "TakeOrderedAndProject" in plan, (
        f"bottom-k sample must not be a global sort:\n{plan}"
    )


def test_aspect_bucket_no_python_single_aggregate(spark, sf_dir):
    # pure metadata op: no Arrow/Python boundary, and exactly one
    # hash-aggregate exchange (the |kinds x buckets| cell collapse)
    plan = executed_plan(spark, "mm_aspect_bucket", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        f"aspect bucketing must stay JVM-side:\n{plan}"
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, (
        f"aspect bucketing should shuffle once, on the cell grain:\n{plan}"
    )


def test_spearman_ranks_reuse_pair_grain_cache(spark, sf_dir):
    # ranks must derive from the persisted pair-grain collapse, not from
    # re-scans of lineitem per variable (the dq_chi2 barrier discipline).
    # The printed tree repeats the cached subtree per consumer, so the
    # gate is: every appearance of the fact scan sits INSIDE the
    # InMemoryRelation definition, and all three consumers (two rank
    # grains + the moment join) read InMemoryTableScan.
    plan = executed_plan(spark, "agg_spearman", sf_dir)
    n_imts = len(re.findall(r"InMemoryTableScan", plan))
    assert n_imts >= 3, f"expected 3 cached consumers, saw {n_imts}:\n{plan}"
    for m in re.finditer(r"^( *)[+:]- FileScan parquet", plan, re.M):
        # a FileScan at shallow indent would be an uncached fact re-scan;
        # cached ones are nested under InMemoryRelation (indent >= 20)
        assert len(m.group(1)) >= 20, f"uncached lineitem scan:\n{plan}"


def test_emb_outliers_distance_pass_has_no_exchange_below_moments(spark, sf_dir):
    # the centroid (64 cells) and the moment row must be the ONLY
    # aggregation exchanges; distances are a broadcast-fed map pass, and
    # no exchange may carry the quantized vector arrays
    plan = executed_plan(spark, "llm_emb_outliers", sf_dir)
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "q#" not in m.group(1), (
            f"an exchange partitions on/carries the vector array:\n{plan}"
        )


def test_ntile_row_grain_window_is_range_partitioned(spark, sf_dir):
    """win_ntile (round-8 drop-in): the row-grain row_number must ride a
    rid-PARTITIONED window over a range exchange — never a
    single-partition ntile over the full table; the only unpartitioned
    window rides the |ranges|-row counts table."""
    plan = executed_plan(spark, "win_ntile", sf_dir)
    assert "Exchange rangepartitioning(c_acctbal" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "c_acctbal" in spec:
            assert spec.strip().startswith("rid"), (
                f"row-grain window lacks rid partitioning: {spec}\n{plan}"
            )


def test_rater_kappa_single_pass_no_python(spark, sf_dir):
    # kappa is ONE map-side-combinable collapse to five counters: no
    # Python boundary and no hash exchange anywhere (the only exchange is
    # the SinglePartition merge of partial counter rows)
    plan = executed_plan(spark, "llm_rater_kappa", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        f"kappa gates must stay JVM-side:\n{plan}"
    )
    assert "Exchange hashpartitioning" not in plan, (
        f"kappa should collapse map-side, one SinglePartition merge only:\n{plan}"
    )


def test_leadlag_joins_only_the_cached_daily_grain(spark, sf_dir):
    # the fact table must collapse to the persisted daily grain ONCE; the
    # 7-row lag table broadcasts (BNLJ is the deliberate 7x explode), the
    # self-join runs day-grain vs day-grain (both InMemoryTableScan), and
    # no hash exchange carries a fact-grain column
    plan = executed_plan(spark, "ts_leadlag", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan, (
        f"lag explode should be a broadcast of the 7-row range:\n{plan}"
    )
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, (
        f"both join sides must read the cached daily collapse:\n{plan}"
    )
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        cols = m.group(1)
        assert "event_id" not in cols and "user_id" not in cols, (
            f"an exchange partitions on a fact-grain column: {cols}\n{plan}"
        )


def test_kendall_pairs_ride_the_cached_brand_grain(spark, sf_dir):
    # the O(grain^2) pair join must consume the PERSISTED 25-row brand
    # collapse on both sides (broadcast on one), never re-scan lineitem
    # per side; no exchange may carry a fact-grain column
    plan = executed_plan(spark, "agg_kendall_tau", sf_dir)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, (
        f"pair join sides must read the cached brand grain:\n{plan}"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "l_extendedprice" not in m.group(1) and "l_quantity" not in m.group(1)


def test_psi_single_fact_collapse(spark, sf_dir):
    # one 4-counter broadcast anchor + ONE collapse to the 10-bin cell
    # grain: the only hash exchanges ride bin-grain rows, and no Python
    plan = executed_plan(spark, "dq_psi", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        cols = m.group(1)
        assert "event_id" not in cols and "user_id" not in cols, (
            f"an exchange partitions on a fact-grain column: {cols}\n{plan}"
        )


def test_sequence_gaps_window_rides_range_grain_only(spark, sf_dir):
    # the unpartitioned lead() must ride the |ranges|-row table: every
    # window spec orders by range_id, and the fact path collapses through
    # hash aggregates (distinct + range grain), never a global sort of keys
    plan = executed_plan(spark, "dq_sequence_gaps", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "range_id" in m.group(1), (
            f"window must ride the range grain: {m.group(1)}\n{plan}"
        )
    assert "Exchange rangepartitioning(k" not in plan, (
        f"no global sort of the key space may exist:\n{plan}"
    )


def test_hopping_explode_is_broadcast_single_cell_exchange(spark, sf_dir):
    # the 4x window explode must be a broadcast (BNLJ), and the only hash
    # exchange rides the (type, window_start) cell grain — no fact-grain
    # partitioning, no Python
    plan = executed_plan(spark, "win_hopping", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan, (
        f"hop explode should broadcast the 4-row range:\n{plan}"
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("window_start" in h or "event_type" in h for h in hashes), (
        f"every hash exchange must ride the cell grain:\n{hashes}"
    )


def test_calendar_profile_single_collapse_window_on_cells(spark, sf_dir):
    # ONE fact collapse to the 7x24 cell grain; the share window must be
    # partitioned by event_type (no unpartitioned window anywhere)
    plan = executed_plan(spark, "ts_calendar_profile", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), (
            f"share window must partition by type: {m.group(1)}\n{plan}"
        )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, (
        f"expected cell-grain collapse + window exchange only:\n{plan}"
    )


def test_harmonic_frontiers_reuse_edges_no_cartesian(spark, sf_dir):
    # round-10 sparse-bitmap form (ADVICE r10 refresh): BFS reach sets are
    # (node, word_idx, int64 word) rows built by equi-join + bit_or hash
    # aggregates over the memoized edge cache, distance classes are
    # bit_count mask arithmetic — no cartesian anywhere, no LeftAnti (the
    # retired round-9 path-expansion form), and the edge/reach caches must
    # be reused, not re-derived per round
    plan = executed_plan(spark, "graph_harmonic", sf_dir)
    assert "CartesianProduct" not in plan
    assert "bit_or" in plan, plan
    assert "bit_count" in plan, plan
    assert "LeftAnti" not in plan, "path-expansion/anti-join form resurfaced"
    # the only BNLJ allowed is the edge build's 1-row mean-threshold
    # broadcast (shared with every graph operator)
    for m in re.finditer(r"BroadcastNestedLoopJoin [^\n]*", plan):
        assert "m#" in m.group(0), f"unexpected BNLJ: {m.group(0)}"
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3, (
        f"reach-word joins must reuse cached edge/reach tables:\n{plan}"
    )


def test_pref_attach_anti_join_on_pair_grain(spark, sf_dir):
    # round-10 sparse-bitmap form: candidates come from r2 & ~r1 & ~self
    # word arithmetic (the closed-pair removal IS the mask — no anti join,
    # no sum-of-degree² wedge groupBy), n_common from bit_count over the
    # pair's neighbor words; all equi-joins on int grains, no cartesian,
    # no Python
    plan = executed_plan(spark, "graph_pref_attach", sf_dir)
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "bit_or" in plan, plan
    assert "bit_count" in plan, plan
    assert "LeftAnti" not in plan, "wedge/anti-join form resurfaced"


def test_lexical_diversity_cell_grain_exchanges_only(spark, sf_dir):
    # the explode must collapse map-side to (doc, token) cells; no
    # exchange may carry raw text, and no Python boundary exists
    plan = executed_plan(spark, "llm_lexical_diversity", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1), (
            f"an exchange partitions on raw text: {m.group(1)}\n{plan}"
        )


def test_term_lift_window_rides_candidate_cells(spark, sf_dir):
    # source totals + corpus total broadcast back; the only window is
    # partitioned by source over the filtered candidate cells
    plan = executed_plan(spark, "llm_term_lift", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "source" in m.group(1), (
            f"rank window must partition by source: {m.group(1)}\n{plan}"
        )
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3, (
        f"the (source, term) cell table must be cached and reused:\n{plan}"
    )


def test_chrf_joins_cached_gram_counts(spark, sf_dir):
    # both join sides and the totals must read the persisted per-(doc,
    # gram) count table; the panel totals broadcast
    plan = executed_plan(spark, "llm_chrf", sf_dir)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3
    assert "CartesianProduct" not in plan


def test_audio_vad_single_python_boundary_no_global_exchange(spark, sf_dir):
    # payload bytes cross into Python exactly once; every exchange and
    # window rides the per-media doc_id grain (the threshold is
    # per-media adaptive — no global aggregate exists)
    plan = executed_plan(spark, "mm_audio_vad", sf_dir)
    assert len(re.findall(r"ArrowEvalPython|MapInPandas", plan)) == 1, (
        f"exactly one Arrow boundary allowed:\n{plan}"
    )
    assert "Exchange SinglePartition" not in plan, (
        f"VAD must not globally aggregate:\n{plan}"
    )
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" in m.group(1), (
            f"exchanges must ride the media grain: {m.group(1)}\n{plan}"
        )


def test_edit_distance_is_pure_projection(spark, sf_dir):
    # zero exchanges, zero Python: a single codegen'd projection
    plan = executed_plan(spark, "f_edit_distance", sf_dir)
    assert "Exchange" not in plan, f"scalar demo must not shuffle:\n{plan}"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # "*(1)" is the WholeStageCodegen stage marker in the tree string
    assert plan.lstrip().startswith("*(") or "WholeStageCodegen" in plan, plan


def test_macd_windows_ride_daily_grain(spark, sf_dir):
    # ONE fact collapse; both lag-chain window layers partition by type
    # over the daily cell table; zero Python, no unpartitioned window
    plan = executed_plan(spark, "ts_macd", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), (
            f"MACD window must partition by type: {m.group(1)}\n{plan}"
        )


def test_theil_broadcasts_nation_totals(spark, sf_dir):
    # the |nations| totals must broadcast back onto the cached supplier
    # cell table; no exchange carries a lineitem-grain column after the
    # first collapse
    plan = executed_plan(spark, "agg_theil", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2


def test_trimmed_mean_windows_on_value_grain(spark, sf_dir):
    # every window must partition by grp over the <= 50-cell value grain;
    # no global sort of fact rows
    plan = executed_plan(spark, "agg_trimmed_mean", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "grp" in m.group(1), (
            f"window must ride the value grain: {m.group(1)}\n{plan}"
        )
    assert "Exchange rangepartitioning(l_quantity" not in plan


def test_skipgram_equi_join_take_ordered(spark, sf_dir):
    # context addressing must be an equi-join on (doc, pos) — never a
    # range/cartesian join — and the top-k must be TakeOrderedAndProject
    plan = executed_plan(spark, "llm_skipgram_cooccur", sf_dir)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, (
        f"top-k must not be a global sort:\n{plan}"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        f"the offset explode should broadcast 4 rows:\n{plan}"
    )


# --- round-8 batch 5 ----------------------------------------------------------


def test_cramers_v_single_fact_scan(spark, sf_dir):
    # the contingency collapse must be the ONLY pass over orders; margins,
    # total and dims all ride the persisted cell table via broadcasts
    plan = executed_plan(spark, "agg_cramers_v", sf_dir)
    # the persisted cell table feeds margins/total/dims: every consumer must
    # read the cache, so the raw FileScan appears only inside the (single)
    # InMemoryRelation build, never as a live re-scan alongside it
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3, plan
    live_scans = re.sub(r"InMemoryRelation.*", "", plan, flags=re.S).count("Scan parquet")
    assert live_scans == 0, f"orders re-scanned outside the cache:\n{plan}"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mutual_info_single_fact_scan(spark, sf_dir):
    plan = executed_plan(spark, "agg_mutual_info", sf_dir)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, f"cell-grain joins must broadcast:\n{plan}"


def test_cohens_d_no_window_no_join(spark, sf_dir):
    # one moment collapse + conditional pivot: no window, no join, no Python
    plan = executed_plan(spark, "agg_cohens_d", sf_dir)
    assert "Window" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_vwap_one_aggregate_no_window(spark, sf_dir):
    plan = executed_plan(spark, "ts_vwap", sf_dir)
    assert "Window" not in plan
    assert "Join" not in plan
    # map-side partials: two HashAggregates (partial + final), one exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_stochastic_windows_ride_daily_grain(spark, sf_dir):
    plan = executed_plan(spark, "ts_stochastic", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), (
            f"stochastic windows must partition by type: {m.group(1)}\n{plan}"
        )
    assert "ArrowEvalPython" not in plan


def test_burstiness_lag_partitions_by_user(spark, sf_dir):
    plan = executed_plan(spark, "ts_burstiness", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in m.group(1), (
            f"gap lag must partition by user: {m.group(1)}\n{plan}"
        )
    assert "Exchange rangepartitioning" not in plan, f"no global sort:\n{plan}"


def test_richclub_reuses_memoized_edges(spark, sf_dir):
    # the edge build is memoized+persisted; thresholds and degrees are
    # dimension work; no unbounded cartesian (the 4-row panel join is a
    # broadcast nested loop by construction)
    plan = executed_plan(spark, "graph_richclub", sf_dir)
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_rank_delta_windows_orthogonal_partitions(spark, sf_dir):
    plan = executed_plan(spark, "win_rank_delta", sf_dir)
    specs = [m.group(1) for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)]
    assert specs, plan
    assert all("ship_month" in s or "l_suppkey" in s for s in specs), (
        f"every window must partition by month or supplier:\n{specs}"
    )
    assert "Exchange rangepartitioning" not in plan


def test_value_shape_topk_window_on_mask_cells(spark, sf_dir):
    # masks collapse BEFORE the margin join and the top-5 window partitions
    # by column — never an unpartitioned sort over value rows
    plan = executed_plan(spark, "dq_value_shape", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "col" in m.group(1), (
            f"top-5 window must partition by col: {m.group(1)}\n{plan}"
        )
    assert "ArrowEvalPython" not in plan


def test_cardinality_trend_two_level_distinct(spark, sf_dir):
    # exact distinct must plan as the two-level (day,user)->day aggregate
    # (Spark expands count_distinct that way); no Python, no range shuffle
    # beyond the |days|-grain lag window's single partition
    plan = executed_plan(spark, "dq_cardinality_trend", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") <= 1, f"events scanned more than once:\n{plan}"
    assert "Join" not in plan


def test_lsh_tune_equi_joins_only(spark, sf_dir):
    plan = executed_plan(spark, "llm_lsh_tune", sf_dir)
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_self_bleu_no_pair_join(spark, sf_dir):
    # the exclude-self clip must ride per-gram top-2 cells — never a
    # doc x doc reference join
    plan = executed_plan(spark, "llm_self_bleu", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"self-BLEU must not build doc pairs:\n{plan}"
    )


def test_bitrate_no_python_no_join(spark, sf_dir):
    # payload bytes never cross into Python — only length() rides the plan
    plan = executed_plan(spark, "mm_bitrate", sf_dir)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- round-8 batch 6 ----------------------------------------------------------


def test_strat_k_window_partitioned_by_stratum(spark, sf_dir):
    plan = executed_plan(spark, "sample_strat_k", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "o_orderpriority" in m.group(1), (
            f"rank must partition by stratum: {m.group(1)}\n{plan}"
        )
    assert "Exchange rangepartitioning" not in plan, f"no global sort:\n{plan}"


def test_volatility_windows_ride_daily_grain(spark, sf_dir):
    plan = executed_plan(spark, "ts_volatility", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), (
            f"volatility windows must partition by type: {m.group(1)}\n{plan}"
        )
    assert "ArrowEvalPython" not in plan


def test_outages_lag_partitioned_no_sort(spark, sf_dir):
    plan = executed_plan(spark, "ts_outages", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), (
            f"gap lag must partition by type: {m.group(1)}\n{plan}"
        )
    assert "Exchange rangepartitioning" not in plan


def test_langid_eval_single_scan_broadcasts(spark, sf_dir):
    # classification is projection work; confusion cells persist once and
    # feed margins + accuracy via broadcasts
    plan = executed_plan(spark, "llm_langid_eval", sf_dir)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3, plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan


def test_minhash_est_err_panel_bounded(spark, sf_dir):
    # the pair join is panel-bounded by the doc_id < 100 pushed filter;
    # signatures are built once per doc (projection), no Python
    fmt = _formatted(spark, "llm_minhash_est_err", sf_dir)
    assert "doc_id" in fmt and "100" in fmt
    plan = executed_plan(spark, "llm_minhash_est_err", sf_dir)
    assert "ArrowEvalPython" not in plan


def test_time_bucket_pure_projection(spark, sf_dir):
    # function-family contract: zero exchanges, zero Python, codegen span
    plan = executed_plan(spark, "f_time_bucket", sf_dir)
    assert "Exchange" not in plan, f"scalar demo must not shuffle:\n{plan}"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.lstrip().startswith("*(") or "WholeStageCodegen" in plan, plan


def test_label_balance_prunes_to_label_column(spark, sf_dir):
    # column pruning: the scan must read label only — never the vectors
    fmt = _formatted(spark, "dq_label_balance", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
    assert m and "embedding" not in m.group(1), (
        f"vector column must be pruned from the scan: {m and m.group(1)}"
    )
    plan = executed_plan(spark, "dq_label_balance", sf_dir)
    assert "SortMergeJoin" not in plan


# --- regression gate: hashing must never ride a Filter condition ---------------

# The round-8 20x regression: a filter on a COMPUTED shingle array gets
# its alias substituted into the pushed-down condition
# (PushPredicateThroughNonJoin), re-evaluating the md5 token-hash chain
# per reference. The fix expresses the shingle-less exclusion as a cheap
# tokens >= 3 predicate BEFORE hashing. This gate pins it for the whole
# minhash family: no Filter node in any executed plan may contain the
# md5 hash chain.
@pytest.mark.parametrize(
    "name",
    ["llm_minhash_dedup", "llm_dedup_audit", "llm_cross_dedup",
     "llm_minhash_est_err", "llm_minhash_lsh", "llm_incr_dedup"],
)
def test_no_md5_inside_filter_condition(spark, sf_dir, name):
    plan = executed_plan(spark, name, sf_dir)
    offenders = [
        ln for ln in plan.splitlines()
        if "Filter " in ln and ("md5(" in ln or "conv(" in ln)
    ]
    assert not offenders, (
        f"{name}: hash chain evaluated inside a Filter (pushdown alias "
        f"substitution — the 20x class):\n" + "\n".join(offenders[:3])
    )


# --- round-8 batch 7 ----------------------------------------------------------


def test_topn_other_single_scan_broadcast_total(spark, sf_dir):
    plan = executed_plan(spark, "agg_topn_other", sf_dir)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan


def test_source_overlap_gram_cells_not_doc_pairs(spark, sf_dir):
    # the intersection must be a hash equi-join on gram over the distinct
    # (source, gram) cells — no nested-loop pair join anywhere
    plan = executed_plan(spark, "llm_source_overlap", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"source overlap must not build doc/source pairs by nested loop:\n{plan}"
    )


def test_forecast_eval_windows_ride_daily_grain(spark, sf_dir):
    plan = executed_plan(spark, "ts_forecast_eval", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), (
            f"lag-7 must partition by type: {m.group(1)}\n{plan}"
        )
    assert "ArrowEvalPython" not in plan


# --- round-9: agg_spearman distributed value-grain prefix (VERDICT r8 item 5) --


def test_spearman_value_grain_windows_are_range_distributed(spark, sf_dir):
    """agg_spearman's rank prefix sums must never run a single-partition
    window over a value grain: every window ordered by qty/price must
    carry the rid partition key, the only rid-ordered window rides the
    |ranges|x|flags| per-range-totals table (a config constant), and the
    rid assignment must come from a range exchange."""
    plan = executed_plan(spark, "agg_spearman", sf_dir)
    assert "Exchange rangepartitioning" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "qty" in spec or "price" in spec:
            assert spec.strip().startswith("rid"), (
                f"value-grain window lacks rid partitioning: {spec}\n{plan}"
            )
