"""Generate SCALE.md: a per-query physical-plan audit for the 100 TB posture.

For every registered query, build its DataFrame at sf0.001 and count the
plan's shuffle exchanges, broadcast exchanges, and whole-stage-codegen spans
from `explain("formatted")`. The table is evidence, not prose: a query whose
shuffle count grows with data size shows up here, and the narrative sections
below the table explain why each family's counts stay flat at 100 TB.

Run: python scripts/audit_scale.py   (writes SCALE.md at the repo root)
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from air_quality_data_pipeline_spark.registry import load_all_queries
from air_quality_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

NODE = re.compile(r"^\(\d+\) (\w+)", re.MULTILINE)

NARRATIVE = """
## Reading the table

- **shuffles** counts `Exchange` nodes (hash/range repartitions) in the
  pre-AQE plan — each is a full network redistribution of its input.
- **broadcasts** counts `BroadcastExchange` nodes — small sides shipped to
  every executor instead of shuffling the large side.
- **codegen** counts `WholeStageCodegen` spans — fused JVM loops; wider
  spans mean fewer materialization boundaries.
- Counts are plan-shape facts at sf0.001; the *shape* is scale-invariant
  (AQE may further coalesce partitions or split skewed ones at runtime,
  and per-SF statistics can flip a borderline join to broadcast).

## Why these shapes hold at 100 TB

- **Scans**: parquet sources with `PushedFilters` + pruned `ReadSchema`
  (asserted in tests/test_plans.py). Partitioned layouts add
  `PartitionFilters` so whole directories never reach the scheduler
  (src_partitioned). At 100 TB the scan cost is bytes-after-pruning, not
  table size.
- **Joins**: dimensions broadcast (0 shuffles of the fact side); fact-fact
  joins shuffle both sides once on the join key. Skew is handled twice:
  statically (join_salted — content-derived salt × dim explode) and at
  runtime (AQE skew-join splitting, on by default in Spark 4). Co-located
  repeats use bucketed tables (join_bucketed: zero exchanges, plan-asserted).
- **Aggregation**: every `groupBy` in the repo plans as partial+final hash
  aggregate — the exchange carries one row per (map task × group), not per
  input row. Argmax uses `max(struct(...))` (combinable) instead of a
  row_number window, so assignment steps (IVF, k-means) shuffle k× less.
- **Top-k**: `TakeOrderedAndProject` — per-partition heaps then a k-row
  merge; no global sort at any scale.
- **Dedup / similarity**: exchanges carry digests and signatures, never
  documents or vectors; candidate joins are LSH-sparse by construction.
  The all-pairs formulations (llm_emb_neardup, llm_ngram_jaccard) are
  deliberately bounded oracle baselines for the LSH/IVF scale paths.
- **Centroid math** (llm_emb_centroid, llm_kmeans_iter): fixed-point BIGINT
  sums are commutative, so the mean is map-side combinable — the exchange
  is k·64 rows per map task regardless of corpus size.
- **Python boundary**: only multimodal decode and the explicit UDF-tier
  demos cross into Python, always Arrow-batched (`mapInPandas` /
  pandas UDFs). Every other operator is JVM expressions inside codegen.
- **Streaming**: stateful operators keep per-key state with watermark
  eviction, so state size is bounded by (keys × window), not stream length.
- **Round-5 additions**: agg_histogram is one bin-keyed exchange (≤20 rows
  per map task); ts_seasonal broadcasts a cell-sized stats table back onto
  the stream with the 3σ gate in exact 128-bit integer math; ts_concurrency
  partitions the sweep-line window by day so no task ever sees more than
  one day of boundaries; llm_ngram_lm_score derives its vocab-sized c1/c2
  tables from the single per-doc gram aggregate (one tokenize pass,
  hash-only exchanges); snk_sorted_skip turns pushed range predicates into
  actual row-group skips via the sorted layout; join_runtime_filter kills
  fact rows at the scan with an optimizer-injected bloom filter before
  they reach the shuffle; agg_sketch_union replaces rolling distinct
  re-scans with associative few-KB sketch merges; llm_dedup_audit's
  all-pairs truth is bounded by a literal panel cap (constant audit cost
  at any corpus size); mm_image_resize applies the kind predicate before
  the Arrow boundary; f_url_parse is a zero-shuffle codegen projection.
- **TPC-H completion (sql_q2..q22)**: every correlated subquery in the
  batch decorrelates (plan-gated in tests/test_plans.py) — q17/q20's
  per-part thresholds become one aggregate joined on the group key,
  q21's EXISTS + NOT EXISTS become a semi + anti join pair, q2's MIN
  becomes an aggregate join-back — so no shape re-executes an inner
  query per row at any scale. Dimension sides broadcast (q5/q7/q8/q9:
  nation/region/part/supplier); fact-fact joins shuffle once on the join
  key; q19's OR-of-ANDs yields implied per-table residuals that reach
  both scans; top-k queries (q10/q18/q21) plan TakeOrderedAndProject.
  The counts for q8 (the 8-relation join) are the batch maximum and are
  join-tree depth, not data-size, effects.

## Knobs that move with cluster size (session.py)

- `spark.sql.shuffle.partitions`: one per core locally; at 1000 executors set to
  2-3× total cores so each post-shuffle partition lands ≤ ~200 MB
  (AQE coalesces the excess).
- `spark.sql.adaptive.enabled` + skew-join: on — runtime re-planning from
  actual map output sizes replaces hand-tuned per-query partition counts.
- `spark.sql.files.maxPartitionBytes`: 16 MB (Spark's default is 128 MB),
  so the one-file-per-table fixtures scan in parallel; splits stay
  row-group aligned and scan tasks memory-bounded at any table size.
- `spark.sql.files.openCostInBytes`: 1 MB (Spark's default is 4 MB).
  Spark sizes a split as min(maxPartitionBytes, max(openCostInBytes,
  bytes / cores)), so the open cost is a floor on split size: at 4 MB a
  5 MB single-file table scans in 2 splits on any core count. At 1 MB a
  file of a few MB spreads over the cores, a file under 1 MB still scans
  as one split, and at cluster scale (bytes / cores far above 1 MB) the
  floor never binds.
"""


def main() -> None:
    spark = get_spark("scale-audit")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cores={spark.sparkContext.defaultParallelism}", flush=True)

    specs = load_all_queries()
    rows = []
    for name in sorted(specs):
        spec = specs[name]
        try:
            df = spec.builder(spark, SF_DIR)
            # Explain with AQE off: under AdaptiveSparkPlan codegen ids are
            # only assigned at execution, so the static plan shows none. The
            # exchange/broadcast structure is identical either way; AQE can
            # only coalesce/split partitions or convert to broadcast at run
            # time (noted in the narrative).
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            nodes = NODE.findall(buf.getvalue())
            shuffles = sum(1 for n in nodes if n == "Exchange")
            bcasts = sum(1 for n in nodes if n == "BroadcastExchange")
            codegen = len(set(re.findall(r"codegen id : (\d+)", buf.getvalue())))
            rows.append((name, shuffles, bcasts, codegen, ""))
        except Exception as ex:  # streaming builders execute their own sinks
            rows.append((name, "-", "-", "-", f"{type(ex).__name__}"))

    out = ["# SCALE — physical-plan audit (generated by scripts/audit_scale.py)", ""]
    out.append("| query | shuffles | broadcasts | codegen spans | note |")
    out.append("|---|---|---|---|---|")
    for name, sh, bc, cg, note in rows:
        out.append(f"| {name} | {sh} | {bc} | {cg} | {note} |")
    out.append(NARRATIVE)
    Path(__file__).resolve().parent.parent.joinpath("SCALE.md").write_text(
        "\n".join(out) + "\n"
    )
    print(f"SCALE.md written: {len(rows)} queries audited")


if __name__ == "__main__":
    main()
