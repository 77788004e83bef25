"""Regenerate PLANS.md: formatted physical plans of the headline queries
with the scale-relevant properties called out. Run from the repo root:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

HEADLINE = [
    ("flagship", "scan→filter→4 broadcast joins→agg→top-k; 1 shuffle total"),
    ("sql_q6", "all 4 predicates pushed to the parquet scan"),
    ("proj_select", "scan reads 7 of 11 lineitem columns (ReadSchema)"),
    ("topk", "ORDER BY+LIMIT plans as TakeOrderedAndProject, no global sort"),
    ("join_bucketed", "zero shuffle exchanges: join + agg consume the bucketing"),
    ("join_salted", "skew split: join key is (hot_key, salt), dim exploded x8"),
    ("join_asof", "as-of join = 1 exchange + 1 window, no range join"),
    ("join_range", "interval join as bucket-expansion BroadcastHashJoin"),
    ("llm_sim_search_ivf", "broadcast centroids; argmax is a partial aggregate"),
    ("llm_minhash_dedup", "persisted signatures; band equi-join; no all-pairs"),
    ("llm_emb_lsh", "sign-bit bands from literal hyperplanes; candidates from bucket expand, cosine on candidates only"),
    ("llm_corpus_prep", "filter→dedup→split→report fused into ONE plan: 2 exchanges, length gate pushed to scan"),
    ("win_retention", "cohort retention join-free: per-user calendar agg + explode, 2 exchanges"),
    ("ts_rolling", "trailing 1-hour RANGE frame on epoch-µs; 1 exchange + 1 window"),
    ("join_runtime_filter", "bloom_filter_might_contain injected on the fact scan before the shuffle"),
    ("ts_concurrency", "sweep-line window partitioned by day — no single-task global ordering"),
    ("agg_histogram", "one map-side-combined exchange keyed on the literal bin"),
    ("llm_ngram_lm_score", "c1/c2 derived from the persisted per-doc gram aggregate — one tokenize pass"),
    ("sql_q4", "correlated EXISTS decorrelated to ONE left-semi join"),
    ("sql_lateral", "per-row ORDER BY+LIMIT subquery decorrelated to rank + equi-join"),
    ("join_dpp", "dynamicpruning subquery on the fact scan: only dim-surviving partitions open"),
    ("agg_argmax", "groupwise argmax as max_by: one aggregate, one exchange, no join-back"),
    ("ts_ewma", "8-term lag chain shares ONE window sort over one exchange"),
    ("llm_ngram_novelty", "first-occurrence min-over-window fuses compute+redistribution into one exchange"),
    ("agg_bitmap_distinct", "exchange carries per-bucket bitmaps, not distinct values"),
    ("sql_q8", "8-relation TPC-H join tree: 7 broadcasts, 2 shuffles, one-division ratio"),
    ("sql_q17", "correlated per-part AVG decorrelated to one aggregate joined back"),
    ("sql_q21", "EXISTS + NOT EXISTS on one fact → semi join + anti join pair"),
    ("graph_pagerank", "3 iterations: rank/degree broadcast to edges, inflow partial-summed"),
    ("sql_recursive", "WITH RECURSIVE plans UnionLoop: one frontier join per level"),
    ("mv_incr_agg", "MV partials ∪ delta partials re-reduced — join-free merge"),
    ("snk_zorder", "Morton-clustered read-back: both dimensions pushed to the scan"),
]


def main() -> None:
    from pyspark.sql import SparkSession

    from air_quality_data_pipeline_spark.registry import load_all_queries

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dump-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all_queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{SF_DIR}` (plans are",
        "scale-independent: AQE may swap join strategies at runtime, which is",
        "the point — the declared plan leaves Catalyst free to re-plan).",
        "",
    ]
    for name, note in HEADLINE:
        df = specs[name].builder(spark, SF_DIR)
        fmt = df._jdf.queryExecution().explainString(mode)
        # keep the operator tree + scan details; drop codegen ids noise
        fmt = re.sub(r" \[codegen id : \d+\]", "", fmt)
        out += [f"## {name}", "", f"**Scale property:** {note}", "", "```", fmt.rstrip(), "```", ""]

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
