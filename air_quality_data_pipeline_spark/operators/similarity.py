"""Similarity search over embedding columns (SURVEY.md §2.K).

Three tiers, all pure Catalyst expressions (no UDF, no MLlib dependency):

- ``llm_sim_search``: brute-force cosine top-k — the exactness baseline.
  The query side is tiny and broadcast; scoring is per-row map work, the
  only shuffle is the per-query top-k (TakeOrdered-style window).
- ``llm_emb_neardup``: embedding-cosine near-duplicate pairs. The fixture
  vectors are random (no true near-dups), so the corpus is augmented
  in-query with deterministically perturbed copies — both engines build the
  identical corpus, keeping the check bit-exact.
- ``llm_sim_search_ivf``: the 100 TB path. Centroids (a small table) are
  broadcast; every vector gets a nearest-centroid bucket in one shuffle-free
  pass; queries probe only their ``nprobe`` closest buckets. On a cluster
  the corpus would be written bucketed/partitioned by ``cid`` so a probe
  reads only matching partitions (partition pruning), turning top-k search
  over 100 TB into a scan of ~nprobe/k of the data.

Dot products / norms use sequential ``aggregate`` folds over doubles
(functions/vectors.py) which evaluate left-to-right identically in Spark
and DuckDB — similarity scores are bit-exact, so even the IVF variant is
fully oracle-checked (assignment, probing, and ranking are deterministic
relational algebra in both engines).

Reference parity: the reference has no vector search; this implements the
north-star LLM-pipeline mandate (BASELINE.json). Its only "similarity"
computation is the geo-radius haversine filter (main.py:75-86, 140-141),
covered by flt_geo/f_haversine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.vectors import (
    cosine_similarity,
    cosine_similarity_duckdb,
    dot_product,
    l2_norm,
)
from ..registry import register
from ..session import COMPUTE_DENSE, scoped_persist
from ..tables import rebalance_for_map, table

DIMS = 64  # fixture embedding width (TESTDATA.md)

# --- shared corpus fragments --------------------------------------------------

# Deterministic perturbation: integer-hash noise per coordinate, exact in
# both engines (no trig — libm ulp differences would break bit-exactness).
_PERTURB_SPARK = (
    "transform(sequence(1, 64), i -> cast(element_at(embedding, i) as double)"
    " + cast((i * 2654435761) % 997 as double) / 50000.0 - 0.01)"
)
_PERTURB_DUCK = (
    "list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)"
    " + CAST((i * 2654435761) % 997 AS DOUBLE) / 50000.0 - 0.01)"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("vec")
    )


# DuckDB twins of _vectors (plain and with each vector's label), and of the
# per-query top-k rank over a ``scored`` (qid, vec_id, cosine) CTE: cosine
# descending, vec_id breaking ties.
_VECTORS_DUCK = """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings"""
_LABELED_VECTORS_DUCK = """SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings"""
_RANKED_DUCK = """SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored"""


# --- llm_sim_search: brute-force cosine top-k --------------------------------

_SIM_SEARCH_ORACLE = f"""
WITH v AS ({_VECTORS_DUCK}),
q AS (SELECT vec_id AS qid, vec AS qvec FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.qid, v.vec_id,
         {cosine_similarity_duckdb('q.qvec', 'v.vec', DIMS)} AS cosine
  FROM q JOIN v ON v.vec_id >= 10
),
ranked AS ({_RANKED_DUCK})
SELECT qid, vec_id, cosine, rnk FROM ranked WHERE rnk <= 5
"""


@register("llm_sim_search", oracle=_SIM_SEARCH_ORACLE, tags=("llm", "similarity"))
def llm_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 10 query vectors (broadcast) against the
    corpus; per-query rank window keeps the 5 nearest. Exact — the baseline
    the ANN variant is measured against."""
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    # embeddings.parquet is one file well under a split at bench scale, so
    # the corpus scans as ONE partition and the 64-dim cosine folds — the
    # entire cost of this query — ran on one core (profiled: a single
    # 551 ms task at sf0.1). The tiny vector exchange buys every core.
    corpus = rebalance_for_map(v.filter(F.col("vec_id") >= 10), spark)
    scored = corpus.join(F.broadcast(q)).select(
        "qid", "vec_id", cosine_similarity(F.col("qvec"), F.col("vec")).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", "cosine", "rnk")
    )


# --- llm_emb_neardup: cosine near-duplicate pairs ----------------------------

_EMB_NEARDUP_ORACLE = f"""
WITH base AS ({_VECTORS_DUCK} WHERE vec_id < 150),
corpus AS (
  SELECT vec_id, vec FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {_PERTURB_DUCK} AS vec
  FROM (SELECT vec_id, vec AS embedding FROM base)
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {cosine_similarity_duckdb('a.vec', 'b.vec', DIMS)} AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.98
"""


@register("llm_emb_neardup", oracle=_EMB_NEARDUP_ORACLE, tags=("llm", "similarity", "dedup"))
def llm_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection on a bounded slice: corpus ∪
    perturbed copies, all-pairs cosine ≥ 0.98. The all-pairs stage is the
    exactness oracle for bucketed variants; at scale the same predicate runs
    after an LSH/IVF candidate join (llm_sim_search_ivf) instead of a cross
    join."""
    base = _vectors(spark, sf_dir).filter(F.col("vec_id") < 150)
    pert = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_PERTURB_SPARK.replace("embedding", "vec")).alias("vec"),
    )
    corpus = base.unionByName(pert)
    b = corpus.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vec_rhs"))
    return (
        corpus.join(b, F.col("vec_id") < F.col("vec_b"))
        .select(
            F.col("vec_id").alias("vec_a"),
            "vec_b",
            cosine_similarity(F.col("vec"), F.col("vec_rhs")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.98)
    )


# --- llm_sim_search_ivf: bucketed ANN (the scale path) ------------------------

_N_CENT = 16
_NPROBE = 4

# --- centroid math shared by llm_emb_centroid / llm_kmeans_iter ---------------
#
# Per-dimension means must be ORDER-INDEPENDENT (hash-agg combine order is
# nondeterministic) yet bit-identical across engines. Plain SUM(double) is
# neither; instead each coordinate is quantized with floor(val * 1e9) to
# BIGINT. Integer sums are exact, commutative, and partially aggregate
# map-side — the scale answer and the exactness answer are the same plan.
# Quantization error is < 1e-9 per coordinate, irrelevant for centroids;
# overflow needs ~4e9 members per cluster at |x| ≤ 2 before int64 saturates.

_QUANT = "CAST(floor(val * 1000000000.0) AS BIGINT)"
_MEAN = "CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1000000000.0)"


_EMB_CENTROID_ORACLE = """
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
e AS (
  SELECT label, i AS dim, vec[i] AS val
  FROM v, UNNEST(range(1, 65)) AS t(i)
),
q AS (SELECT label, dim, {quant} AS qv FROM e)
SELECT label, dim, {mean} AS centroid, COUNT(*) AS n_members
FROM q GROUP BY label, dim
""".format(quant=_QUANT, mean=_MEAN)


@register("llm_emb_centroid", oracle=_EMB_CENTROID_ORACLE, tags=("llm", "similarity", "clustering"))
def llm_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid: explode 64 dims, fixed-point quantize,
    one hash aggregate on (label, dim). The only shuffle carries (label,
    dim, qv) triples with map-side partial sums — at 100 TB the exchange is
    ~k·64 rows per map task regardless of corpus size. This is the
    reduce step of k-means / IVF training (llm_sim_search_ivf consumes
    such centroids)."""
    v = table(spark, sf_dir, "embeddings").select(
        "label", F.expr("transform(embedding, x -> cast(x as double))").alias("vec")
    )
    e = v.select("label", F.posexplode("vec").alias("pos", "val")).select(
        "label", (F.col("pos") + 1).alias("dim"), F.expr(_QUANT).alias("qv")
    )
    return e.groupBy("label", "dim").agg(
        F.expr(_MEAN).alias("centroid"), F.count(F.lit(1)).alias("n_members")
    )


_KM_ASSIGN_DUCK = f"""
v AS ({_VECTORS_DUCK}),
cent AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < {{k}}),
assign_scored AS (
  SELECT v.vec_id, cent.cid,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY {cosine_similarity_duckdb('v.vec', 'cent.cvec', DIMS)} DESC, cent.cid
         ) AS crnk
  FROM v CROSS JOIN cent
),
assigned AS (SELECT vec_id, cid FROM assign_scored WHERE crnk = 1)
"""

_KMEANS_ORACLE = """
WITH {assign},
e AS (
  SELECT a.cid, i AS dim, v.vec[i] AS val
  FROM assigned a JOIN v ON v.vec_id = a.vec_id, UNNEST(range(1, 65)) AS t(i)
),
q AS (SELECT cid, dim, {quant} AS qv FROM e)
SELECT cid, dim, {mean} AS centroid, COUNT(*) AS n_members
FROM q GROUP BY cid, dim
""".format(assign=_KM_ASSIGN_DUCK.format(k=_N_CENT), quant=_QUANT, mean=_MEAN)


@register("llm_kmeans_iter", oracle=_KMEANS_ORACLE, tags=("llm", "similarity", "clustering", "iterative"))
def llm_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's k-means iteration, fully oracle-checked: deterministic
    seeds (first k vectors), nearest-centroid assignment via the broadcast +
    max(struct) argmax aggregate (same shape as llm_sim_search_ivf — one
    shuffle of (vec_id, best) pairs, never 16× the corpus), then the
    fixed-point centroid recompute of llm_emb_centroid grouped by cluster.
    Iterating this plan (re-broadcasting the k·64-row output as the next
    seed) is exactly IVF index training at 100 TB: per iteration, one
    corpus scan, one argmax shuffle, one k·64-row aggregate."""
    v = _vectors(spark, sf_dir)
    cent = v.filter(F.col("vec_id") < _N_CENT).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    csim = cosine_similarity(F.col("vec"), F.col("cvec")).alias("csim")
    assigned = (
        v.join(F.broadcast(cent))
        .select("vec_id", "cid", csim)
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("csim"), (-F.col("cid")).alias("ncid"))).alias("best"))
        .select("vec_id", (-F.col("best.ncid")).alias("cid"))
    )
    e = (
        assigned.join(v, "vec_id")
        .select("cid", F.posexplode("vec").alias("pos", "val"))
        .select("cid", (F.col("pos") + 1).alias("dim"), F.expr(_QUANT).alias("qv"))
    )
    return e.groupBy("cid", "dim").agg(
        F.expr(_MEAN).alias("centroid"), F.count(F.lit(1)).alias("n_members")
    )


# --- llm_kmeans_train: multi-iteration Lloyd's (IVF index training) -----------

_TRAIN_ITERS = 3


def _kmeans_train_oracle(k: int, iters: int) -> str:
    """Unrolled DuckDB replica of ``iters`` Lloyd's rounds: each round is the
    llm_kmeans_iter CTE block (argmax assignment → fixed-point centroid
    recompute), with round i's centroids re-listed (ordered by dim) as round
    i+1's seeds. Unrolling keeps the oracle plain ANSI SQL."""
    cos = cosine_similarity_duckdb
    sql = f"""
WITH v AS ({_VECTORS_DUCK}),
cent0 AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < {k})"""
    for i in range(1, iters + 1):
        sql += f""",
assigned{i} AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {cos('v.vec', 'c.cvec', DIMS)} DESC, c.cid
           ) AS crnk
    FROM v CROSS JOIN cent{i - 1} c
  ) WHERE crnk = 1
),
e{i} AS (
  SELECT a.cid, i AS dim, v.vec[i] AS val
  FROM assigned{i} a JOIN v ON v.vec_id = a.vec_id, UNNEST(range(1, {DIMS} + 1)) AS t(i)
),
q{i} AS (SELECT cid, dim, {_QUANT} AS qv FROM e{i}),
cstat{i} AS (
  SELECT cid, dim, {_MEAN} AS centroid, COUNT(*) AS n_members
  FROM q{i} GROUP BY cid, dim
),
cent{i} AS (
  SELECT cid, list(centroid ORDER BY dim) AS cvec FROM cstat{i} GROUP BY cid
)"""
    sql += f"\nSELECT cid, dim, centroid, n_members FROM cstat{iters}"
    return sql


@register(
    "llm_kmeans_train",
    oracle=_kmeans_train_oracle(_N_CENT, _TRAIN_ITERS),
    tags=("llm", "similarity", "clustering", "iterative"),
)
def llm_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's k-means training loop (3 iterations) — the IVF index
    build llm_kmeans_iter proves one step of. Per round: broadcast the
    current k centroids, assign via the map-side-combining max(struct)
    argmax (one shuffle of (vec_id, cid) pairs), recompute centroids with
    the fixed-point quantized aggregate (one k·64-row exchange), then
    ``localCheckpoint`` the k·64-row centroid table so the next round's
    plan starts from materialized data instead of an ever-deepening
    lineage (same driver-loop pattern as llm_dedup_clusters — per round
    the driver handles only a k·64-row table, the corpus never leaves the
    executors). At 100 TB each round costs one corpus scan + one argmax
    shuffle, independent of the number of rounds."""
    v = _vectors(spark, sf_dir)
    cent = v.filter(F.col("vec_id") < _N_CENT).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    cstat = None
    for _ in range(_TRAIN_ITERS):
        csim = cosine_similarity(F.col("vec"), F.col("cvec")).alias("csim")
        assigned = (
            v.join(F.broadcast(cent))
            .select("vec_id", "cid", csim)
            .groupBy("vec_id")
            .agg(F.max(F.struct(F.col("csim"), (-F.col("cid")).alias("ncid"))).alias("best"))
            .select("vec_id", (-F.col("best.ncid")).alias("cid"))
        )
        e = (
            assigned.join(v, "vec_id")
            .select("cid", F.posexplode("vec").alias("pos", "val"))
            .select("cid", (F.col("pos") + 1).alias("dim"), F.expr(_QUANT).alias("qv"))
        )
        cstat = (
            e.groupBy("cid", "dim")
            .agg(F.expr(_MEAN).alias("centroid"), F.count(F.lit(1)).alias("n_members"))
            .localCheckpoint(eager=True)
        )
        cent = cstat.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, centroid))), s -> s.centroid)"
            ).alias("cvec")
        )
    return cstat


_IVF_CTES = f"""
WITH v AS ({_VECTORS_DUCK}),
cent AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < {_N_CENT}),
assign_scored AS (
  SELECT v.vec_id, cent.cid,
         {cosine_similarity_duckdb('v.vec', 'cent.cvec', DIMS)} AS csim,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY {cosine_similarity_duckdb('v.vec', 'cent.cvec', DIMS)} DESC, cent.cid
         ) AS crnk
  FROM v CROSS JOIN cent
),
assigned AS (SELECT vec_id, cid FROM assign_scored WHERE crnk = 1),
q AS (SELECT vec_id AS qid, vec AS qvec FROM v
      WHERE vec_id % 50 = 7 AND vec_id < 2000),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, cent.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY {cosine_similarity_duckdb('q.qvec', 'cent.cvec', DIMS)} DESC, cent.cid
           ) AS prnk
    FROM q CROSS JOIN cent
  ) WHERE prnk <= {_NPROBE}
),
cand AS (
  SELECT p.qid, a.vec_id FROM probes p JOIN assigned a ON a.cid = p.cid
),
scored AS (
  SELECT c.qid, c.vec_id,
         {cosine_similarity_duckdb('q.qvec', 'v.vec', DIMS)} AS cosine
  FROM cand c JOIN q ON q.qid = c.qid JOIN v ON v.vec_id = c.vec_id
  WHERE c.vec_id != c.qid
)"""

_IVF_ORACLE = (
    _IVF_CTES
    + f"""
SELECT qid, vec_id, cosine, rnk FROM ({_RANKED_DUCK}) WHERE rnk <= 5
"""
)


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF top-k plan (see llm_sim_search_ivf docstring). Its
    callers declare COMPUTE_DENSE: the candidate rescore + per-query window
    stage is MBs of shuffle but CPU-dense cosine folds, and the stock 1MB
    AQE coalesce floor folded it onto one core (profiled: a single 414 ms
    task at sf0.1)."""
    v = _vectors(spark, sf_dir)
    cent = v.filter(F.col("vec_id") < _N_CENT).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    csim = cosine_similarity(F.col("vec"), F.col("cvec")).alias("csim")
    # Nearest-centroid assignment as an AGGREGATE, not a window: a
    # row_number window over vec_id would shuffle 16x the corpus; the
    # max(struct) aggregate partially combines map-side, collapsing the 16
    # candidate rows per vector to 1 before the exchange. Struct ordering is
    # lexicographic, so (csim, -cid) == "highest csim, lowest cid" — the
    # same deterministic tiebreak as the oracle's row_number.
    # Same single-split-scan hazard as llm_sim_search: the assignment pass
    # (corpus x 16 centroid cosines, the bulk of the query) profiled as ONE
    # 657 ms task at sf0.1 — spread the scan before the per-row compute.
    assigned = (
        rebalance_for_map(v, spark).join(F.broadcast(cent))
        .select("vec_id", "cid", csim)
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("csim"), (-F.col("cid")).alias("ncid"))).alias("best"))
        .select("vec_id", (-F.col("best.ncid")).alias("cid"))
    )
    # fixed query panel: the cap keeps the panel size CONSTANT as the corpus
    # grows (identical sets at every driver sf; ≤40 queries at any scale), so
    # benchmarks measure corpus scaling at fixed query load — without it,
    # queries × per-query candidates both grow with the corpus and total work
    # is quadratic in scale factor.
    q = v.filter((F.col("vec_id") % 50 == 7) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    qsim = cosine_similarity(F.col("qvec"), F.col("cvec")).alias("qsim")
    pw = Window.partitionBy("qid").orderBy(F.desc("qsim"), F.asc("cid"))
    probes = (
        q.join(F.broadcast(cent))
        .select("qid", "cid", qsim)
        .withColumn("prnk", F.row_number().over(pw))
        .filter(F.col("prnk") <= _NPROBE)
        .select("qid", "cid")
    )
    cand = probes.join(assigned, "cid").select("qid", "vec_id")
    scored = (
        cand.filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(q), "qid")
        .join(v, "vec_id")
        .select("qid", "vec_id", cosine_similarity(F.col("qvec"), F.col("vec")).alias("cosine"))
    )
    rw = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", "cosine", "rnk")
    )


@register(
    "llm_sim_search_ivf", oracle=_IVF_ORACLE, tags=("llm", "similarity"), confs=COMPUTE_DENSE
)
def llm_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbor — the 100 TB architecture.

    Centroids (tiny, broadcast) partition the corpus into buckets in one
    shuffle-free pass; each query probes its nprobe=4 nearest buckets only.
    At cluster scale the assigned corpus is persisted partitioned by cid so
    probing prunes ~(k - nprobe)/k of all partitions before any scoring.
    Deterministic seeding (first k vectors as centroids) keeps the whole
    plan oracle-checkable — assignment, probe choice, and final ranking are
    bit-exact relational algebra in both engines."""
    return _ivf_topk(spark, sf_dir)


# --- llm_ann_recall: IVF quality audit vs exact top-k ------------------------

_ANN_RECALL_ORACLE = (
    _IVF_CTES
    + f""",
ivf AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
bscored AS (
  SELECT q.qid, v.vec_id,
         {cosine_similarity_duckdb('q.qvec', 'v.vec', DIMS)} AS cosine
  FROM q JOIN v ON v.vec_id != q.qid
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
    FROM bscored
  ) WHERE rnk <= 5
)
SELECT i.qid,
       COUNT(b.vec_id) AS n_hits,
       CAST(COUNT(b.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM ivf i LEFT JOIN brute b ON b.qid = i.qid AND b.vec_id = i.vec_id
GROUP BY i.qid
"""
)


@register(
    "llm_ann_recall",
    oracle=_ANN_RECALL_ORACLE,
    tags=("llm", "similarity", "audit"),
    confs=COMPUTE_DENSE,
)
def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against exact brute-force top-5 on the same
    fixed query panel — the audit every production ANN deployment runs
    before trusting the index. Both branches are deterministic, so the
    recall values themselves are oracle-checked exactly (not gated).

    The brute-force branch is the expensive half (full corpus × panel), but
    the panel is capped (≤40 queries at any scale) so the audit costs one
    corpus scan regardless of corpus size — on a cluster you run it on a
    sampled bucket subset. The intersection joins on (qid, vec_id): 5-row
    sets per query, negligible exchange."""
    v = _vectors(spark, sf_dir)
    ivf = _ivf_topk(spark, sf_dir).select("qid", "vec_id")
    q = v.filter((F.col("vec_id") % 50 == 7) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    bscored = (
        rebalance_for_map(v, spark)  # brute branch: corpus x panel cosines
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", cosine_similarity(F.col("qvec"), F.col("vec")).alias("cosine")
        )
    )
    bw = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    brute = (
        bscored.withColumn("rnk", F.row_number().over(bw))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        ivf.join(brute, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").alias("n_hits"),
            (F.count("hit").cast("double") / 5.0).alias("recall_at_5"),
        )
    )


# --- llm_emb_lsh: random-hyperplane LSH near-dup (the sparse scale path) -----

# Signed-random-projection LSH: _LSH_BITS sign bits per vector, grouped into
# _LSH_BANDS bands; vectors sharing any band key become candidate pairs and
# only candidates get an exact cosine check. Hyperplane components are a
# fixed deterministic table inlined as LITERALS into both engines' SQL, so
# signatures are identical by construction (no RNG, no libm).
_LSH_BANDS = 4
_LSH_BAND_BITS = 8
_LSH_BITS = _LSH_BANDS * _LSH_BAND_BITS
_LSH_CAP = 1000  # bounded corpus for the oracle-checked demo (see docstring)


def _lsh_hyperplane(b: int, d: int) -> float:
    # integer-hash pseudo-random in [-1, 1); exact decimal literals below
    return ((((b + 1) * 2654435761 + (d + 1) * 40503) % 8191) - 4095) / 4096.0


_LSH_PLANES = [
    [_lsh_hyperplane(b, d) for d in range(DIMS)] for b in range(_LSH_BITS)
]


def _lsh_band_expr_spark(g: int) -> str:
    bits = []
    for j in range(_LSH_BAND_BITS):
        plane = _LSH_PLANES[g * _LSH_BAND_BITS + j]
        arr = "array(" + ", ".join(f"{c}D" for c in plane) + ")"
        dot = (
            f"aggregate(zip_with({arr}, vec, (h, x) -> h * x), 0.0D, (s, x) -> s + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _lsh_band_expr_duck(g: int) -> str:
    bits = []
    for j in range(_LSH_BAND_BITS):
        plane = _LSH_PLANES[g * _LSH_BAND_BITS + j]
        arr = "[" + ", ".join(f"CAST({c} AS DOUBLE)" for c in plane) + "]"
        dot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {DIMS} + 1), i -> {arr}[i] * vec[i])), "
            f"(s, x) -> s + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0.0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


_EMB_LSH_ORACLE = f"""
WITH base AS ({_VECTORS_DUCK} WHERE vec_id < {_LSH_CAP}),
corpus AS (
  SELECT vec_id, vec FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {_PERTURB_DUCK} AS vec
  FROM (SELECT vec_id, vec AS embedding FROM base)
),
sigs AS (
  SELECT vec_id, vec,
         [{", ".join(_lsh_band_expr_duck(g) for g in range(_LSH_BANDS))}] AS bands
  FROM corpus
),
banded AS (
  SELECT vec_id, g.i AS band, bands[g.i + 1] AS key
  FROM sigs, range(0, {_LSH_BANDS}) g(i)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       {cosine_similarity_duckdb('sa.vec', 'sb.vec', DIMS)} AS cosine
FROM cand c
JOIN sigs sa ON sa.vec_id = c.vec_a
JOIN sigs sb ON sb.vec_id = c.vec_b
WHERE {cosine_similarity_duckdb('sa.vec', 'sb.vec', DIMS)} >= 0.98
"""


# the candidate-join + exact-cosine verify stage reads < 1 MB of id pairs
# but each row pays three 64-term interpreted cosine folds — AQE's
# byte-based coalescing folded it onto ONE task (1.72 s CPU at sf0.1,
# profiled r11). Same compute-blind-coalescing fix as llm_minhash_dedup.
@register(
    "llm_emb_lsh",
    oracle=_EMB_LSH_ORACLE,
    tags=("llm", "similarity", "dedup"),
    confs=COMPUTE_DENSE,
)
def llm_emb_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH — the
    SPARSE formulation that replaces llm_emb_neardup's bounded all-pairs
    baseline at scale: 32 sign bits per vector (4 bands x 8 bits),
    candidates from a band-key equi-join (the
    same one-shuffle bucket-expand pattern as llm_minhash_dedup), exact
    cosine only on candidates. Per-row signature cost is a fixed
    2048-term fold — linear scan work any executor count absorbs; the
    candidate join keys on (band, key) so the exchange carries ids, not
    vectors. The corpus is capped and augmented with deterministic
    perturbed copies (as llm_emb_neardup) so planted near-dups exist and
    both engines build the identical input. Demo cap exists only because
    the ORACLE must also run; the Spark side has no all-pairs stage."""
    base = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _LSH_CAP)
        .select("vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("vec"))
    )
    corpus = base.unionByName(
        base.select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.expr(_PERTURB_SPARK.replace("embedding", "vec")).alias("vec"),
        )
    )
    # one-row-group fixture scans are 1 task; the 2048-term sign-bit fold
    # per row is the heavy map work — spread before computing signatures
    corpus = rebalance_for_map(corpus, spark)
    sigs = scoped_persist(
        corpus.select(
            "vec_id",
            "vec",
            F.expr(
                "array(" + ", ".join(_lsh_band_expr_spark(g) for g in range(_LSH_BANDS)) + ")"
            ).alias("bands"),
        )
    )
    banded = sigs.select(
        "vec_id", F.posexplode("bands").alias("band", "key")
    )
    # Candidate pairs via a SELF-EQUI-JOIN on (band, key) — the same shape as
    # the oracle. Unlike a collect_list-per-bucket expansion, a degenerate hot
    # band key never materializes a quadratic array inside one task: the join
    # spreads the bucket across tasks and AQE skew-join splits it further.
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    sa = sigs.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    sb = sigs.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        cand.join(sa, "vec_a")
        .join(sb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_similarity(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.98)
    )


# --- llm_semantic_dedup: cluster-level semantic dedup ------------------------

_SEM_NEAR_TAU = 0.3  # member counts as a semantic duplicate of the rep
# (random 64-dim cosines concentrate near 0 with sd ~ 1/8, so 0.3 is a
# ~2.4-sigma alignment gate; the perturbed seed copies score ~0.999)

_SEMANTIC_DEDUP_ORACLE = f"""
WITH v AS (
  {_VECTORS_DUCK}
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {_PERTURB_DUCK} AS vec
  FROM embeddings WHERE vec_id % 4 = 1
),
cent AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < {_N_CENT}),
assign_scored AS (
  SELECT v.vec_id, cent.cid,
         {cosine_similarity_duckdb('v.vec', 'cent.cvec', DIMS)} AS csim,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY {cosine_similarity_duckdb('v.vec', 'cent.cvec', DIMS)} DESC, cent.cid
         ) AS crnk
  FROM v CROSS JOIN cent
),
assigned AS (SELECT vec_id, cid, csim FROM assign_scored WHERE crnk = 1),
reps AS (
  SELECT cid,
         COUNT(*) AS n_members,
         (MAX(struct_pack(csim := csim, nid := -vec_id))).nid * -1 AS rep_id
  FROM assigned GROUP BY cid
),
near AS (
  SELECT a.cid,
         CAST(SUM(CASE WHEN a.vec_id != r.rep_id AND
                {cosine_similarity_duckdb('mv.vec', 'rv.vec', DIMS)} >= {_SEM_NEAR_TAU}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_near_rep
  FROM assigned a
  JOIN reps r ON r.cid = a.cid
  JOIN v mv ON mv.vec_id = a.vec_id
  JOIN v rv ON rv.vec_id = r.rep_id
  GROUP BY a.cid
)
SELECT r.cid, r.rep_id, r.n_members, n.n_near_rep
FROM reps r JOIN near n ON n.cid = r.cid
"""


@register("llm_semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE, tags=("llm", "similarity", "dedup"))
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-level semantic dedup (Abbas et al. 2023):
    assign every embedding to its nearest centroid (broadcast centroids +
    the argmax-as-aggregate trick — one corpus pass, no window over the
    corpus), elect a per-cluster representative (most-central member,
    deterministic tiebreak), and count members within cosine tau of their
    representative — the set a semantic dedup pass would drop. The
    all-pairs work is cluster-internal member-vs-REP only (linear in
    members, not quadratic): at 100 TB with k clusters the reps table is
    k rows broadcast everywhere, and per-cluster scans parallelize on the
    assignment key exactly like the IVF probe path. The fixture vectors
    are random (no true semantic dups), so a quarter of the corpus gets a
    deterministically perturbed copy (the llm_emb_neardup pattern — both
    engines build the identical corpus), giving the drop-counter real
    positives to find."""
    base = _vectors(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    v = base.unionByName(
        emb.filter(F.col("vec_id") % 4 == 1).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.expr(_PERTURB_SPARK).alias("vec"),
        )
    )
    cent = v.filter(F.col("vec_id") < _N_CENT).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    csim = cosine_similarity(F.col("vec"), F.col("cvec")).alias("csim")
    assigned = (
        v.join(F.broadcast(cent))
        .select("vec_id", "cid", csim)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("csim"), (-F.col("cid")).alias("ncid"))
            ).alias("best")
        )
        .select("vec_id", (-F.col("best.ncid")).alias("cid"), F.col("best.csim").alias("csim"))
    )
    assigned = scoped_persist(assigned)
    reps = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.max(F.struct(F.col("csim"), (-F.col("vec_id")).alias("nid")))["nid"] * -1).alias(
            "rep_id"
        ),
    )
    rep_vecs = (
        reps.join(v, reps.rep_id == v.vec_id)
        .select("cid", "rep_id", F.col("vec").alias("rvec"))
    )
    near = (
        assigned.join(v, "vec_id")
        .join(F.broadcast(rep_vecs), "cid")
        .select(
            "cid",
            F.when(
                (F.col("vec_id") != F.col("rep_id"))
                & (cosine_similarity(F.col("vec"), F.col("rvec")) >= _SEM_NEAR_TAU),
                1,
            )
            .otherwise(0)
            .alias("is_near"),
        )
        .groupBy("cid")
        .agg(F.sum("is_near").cast("long").alias("n_near_rep"))
    )
    return (
        reps.join(near, "cid")
        .select("cid", "rep_id", "n_members", "n_near_rep")
    )


# --- llm_emb_quantize: int8 vector quantization ------------------------------

# Symmetric absmax int8 quantization — the vector-DB/serving prep step
# (4x memory cut before ANN indexing). Everything is per-row Catalyst
# array math: the absmax fold is a SELECTION (order-free), the quantized
# code floor((x/amax)*127) is one IEEE divide+multiply+floor on identical
# operands in both engines, and the reconstruction-error fold is the
# module's sequential aggregate() pattern (bit-identical left-to-right).
_QUANT_AMAX_SPARK = "aggregate(vec, 0.0D, (s, x) -> greatest(s, abs(x)))"
_QUANT_AMAX_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(vec, x -> abs(x))), (s, x) -> greatest(s, x))"
)

_EMB_QUANTIZE_ORACLE = f"""
WITH v AS ({_VECTORS_DUCK}),
a AS (
  SELECT vec_id, vec, {_QUANT_AMAX_DUCK} AS amax FROM v
),
q AS (
  SELECT vec_id, vec, amax,
         list_transform(vec, x -> CAST(floor(x / amax * 127.0) AS INT)) AS qv
  FROM a WHERE amax > 0.0
)
SELECT vec_id, amax, amax / 127.0 AS scale,
       array_to_string(qv, ',') AS q_csv,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(1, 65),
           i -> abs(vec[i] - CAST(qv[i] AS DOUBLE) * (amax / 127.0)))),
         (s, x) -> s + x) AS recon_err
FROM q
"""


@register("llm_emb_quantize", oracle=_EMB_QUANTIZE_ORACLE, tags=("llm", "similarity"))
def llm_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric absmax int8 quantization of the embedding column, with a
    per-vector reconstruction-error audit — the standard 4x compression
    pass before building a serving ANN index. Zero shuffle, zero UDF:
    absmax, the int8 codes, and the L1 reconstruction error are all
    Catalyst array expressions evaluated map-side, so at 100 TB the
    operator is pure scan bandwidth across however many executors exist.
    Codes are emitted as a CSV string (the repo's canonical array
    encoding for value-hash comparison); amax > 0 guards the degenerate
    all-zero vector."""
    v = _vectors(spark, sf_dir)
    a = v.withColumn("amax", F.expr(_QUANT_AMAX_SPARK)).filter(F.col("amax") > 0.0)
    q = a.withColumn(
        "qv", F.expr("transform(vec, x -> cast(floor(x / amax * 127.0) as int))")
    )
    return q.select(
        "vec_id",
        "amax",
        (F.col("amax") / 127.0).alias("scale"),
        F.expr("concat_ws(',', transform(qv, x -> cast(x as string)))").alias("q_csv"),
        F.expr(
            "aggregate(transform(sequence(1, 64), "
            "i -> abs(element_at(vec, i) - cast(element_at(qv, i) as double)"
            " * (amax / 127.0))), 0.0D, (s, x) -> s + x)"
        ).alias("recon_err"),
    )


# --- llm_hard_negatives: contrastive-pair mining -----------------------------

# For each query vector, the single most-similar vector with a DIFFERENT
# label — the hard-negative mining step of contrastive training (the
# negatives that actually move the loss are the ones the model confuses).
# Exact cosine via the module's sequential folds; the argmax tiebreak
# (equal cosine -> lowest vec_id) is ONE max_by(struct) in Spark, and the
# oracle spells the same selection as max-join-back + min (DuckDB arg_max
# lacks struct comparators — llm_dedup_keep_best note).
_HARD_NEG_QUERIES = 20

_HARD_NEG_ORACLE = f"""
WITH v AS ({_LABELED_VECTORS_DUCK}),
q AS (SELECT vec_id AS qid, label AS qlabel, vec AS qvec FROM v
      WHERE vec_id < {_HARD_NEG_QUERIES}),
scored AS (
  SELECT q.qid, q.qlabel, v.vec_id, v.label,
         {cosine_similarity_duckdb('q.qvec', 'v.vec', DIMS)} AS cosine
  FROM q JOIN v ON v.label <> q.qlabel
),
m AS (SELECT qid, max(cosine) AS mc FROM scored GROUP BY qid)
SELECT s.qid, min(s.qlabel) AS qlabel,
       min(s.vec_id) AS neg_id,
       arg_min(s.label, s.vec_id) AS neg_label,
       min(s.cosine) AS cosine
FROM scored s JOIN m ON s.qid = m.qid AND s.cosine = m.mc
GROUP BY s.qid
"""


@register("llm_hard_negatives", oracle=_HARD_NEG_ORACLE, tags=("llm", "similarity"))
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the most cosine-similar CORPUS vector carrying a different label —
    the pairs that dominate the InfoNCE gradient. The query panel (20
    vectors) broadcasts against the corpus — the corpus is never
    shuffled, scoring is per-row sequential-fold math, and the per-query
    argmax is ONE map-side-combinable max_by(struct) so the exchange
    carries one candidate per (task, query). At 100 TB the exact scan
    is the recall-1.0 baseline; production mines from the IVF/LSH
    bucketed candidates (llm_sim_search_ivf / llm_emb_lsh) with this
    operator as its audit."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    )
    # one-row-group fixture scan = 1 task; the 20-query x corpus cosine
    # scoring is the whole query (profiled: a single 1.3 s task at sf0.1)
    # — spread the scan before the broadcast-scoring pass, exactly the
    # llm_sim_search fix from round 10
    v = rebalance_for_map(v, spark)
    q = v.filter(F.col("vec_id") < _HARD_NEG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
    )
    scored = (
        F.broadcast(q)
        .join(v, q.qlabel != v.label)
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            cosine_similarity(F.col("qvec"), F.col("vec")).alias("cosine"),
        )
        # a zero-norm query has NULL similarity to every candidate — no
        # hard negative is minable for it, so it yields NO row (matches
        # the oracle's cosine = max(cosine) equi-join, which drops the
        # all-NULL group; adversarial-fixture finding)
        .filter(F.col("cosine").isNotNull())
    )
    return scored.groupBy("qid").agg(
        F.min("qlabel").alias("qlabel"),
        F.expr("max_by(vec_id, struct(cosine, -vec_id))").alias("neg_id"),
        F.expr("max_by(label, struct(cosine, -vec_id))").alias("neg_label"),
        F.max("cosine").alias("cosine"),
    )


# --- llm_mmr_diversify: maximal-marginal-relevance re-ranking -----------------

# Plain top-k (llm_sim_search) returns near-duplicates of each other when
# the corpus clusters; retrieval and RAG context assembly want RELEVANT
# but MUTUALLY DIVERSE results. MMR picks greedily: first the most
# similar candidate, then argmax of λ·sim(query, c) − (1−λ)·max sim(c,
# already-picked). λ = 0.7 is carried as the exact integer pair (7, 3)
# over FLOOR-quantized micro-similarities, so every comparison the greedy
# argmax makes is integer-exact in both engines (ties broken by vec_id) —
# which is what lets an inherently sequential algorithm be value-hash
# oracle-checked.
_MMR_CANDS = 8
_MMR_PICKS = 3

_MMR_ORACLE = f"""
WITH v AS ({_VECTORS_DUCK}),
q AS (SELECT vec_id AS qid, vec AS qvec FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.qid, v.vec_id, v.vec,
         CAST(floor({cosine_similarity_duckdb('q.qvec', 'v.vec', DIMS)}
              * 1000000.0) AS BIGINT) AS qsim
  FROM q JOIN v ON v.vec_id >= 10
),
cand AS MATERIALIZED (
  SELECT qid, vec_id, vec, qsim FROM (
    SELECT qid, vec_id, vec, qsim,
           row_number() OVER (PARTITION BY qid ORDER BY qsim DESC, vec_id) AS rnk
    FROM scored
  ) WHERE rnk <= {_MMR_CANDS}
),
pairs AS MATERIALIZED (
  SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb,
         CAST(floor({cosine_similarity_duckdb('a.vec', 'b.vec', DIMS)}
              * 1000000.0) AS BIGINT) AS psim
  FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
),
sel1 AS (
  SELECT qid, vec_id, qsim FROM (
    SELECT qid, vec_id, qsim,
           row_number() OVER (PARTITION BY qid ORDER BY qsim DESC, vec_id) AS rnk
    FROM cand
  ) WHERE rnk = 1
),
mmr2 AS (
  SELECT c.qid, c.vec_id, c.qsim,
         7 * c.qsim - 3 * MAX(p.psim) AS score
  FROM cand c
  JOIN sel1 s ON s.qid = c.qid AND c.vec_id <> s.vec_id
  JOIN pairs p ON p.qid = c.qid AND p.ca = c.vec_id AND p.cb = s.vec_id
  GROUP BY c.qid, c.vec_id, c.qsim
),
sel2 AS (
  SELECT qid, vec_id, qsim FROM (
    SELECT qid, vec_id, qsim,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
    FROM mmr2
  ) WHERE rnk = 1
),
sel12 AS (
  SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2
),
mmr3 AS (
  SELECT c.qid, c.vec_id, c.qsim,
         7 * c.qsim - 3 * MAX(p.psim) AS score
  FROM cand c
  JOIN pairs p ON p.qid = c.qid AND p.ca = c.vec_id
  JOIN sel12 s ON s.qid = p.qid AND s.vec_id = p.cb
  WHERE NOT EXISTS (
    SELECT 1 FROM sel12 x WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
  GROUP BY c.qid, c.vec_id, c.qsim
),
sel3 AS (
  SELECT qid, vec_id, qsim FROM (
    SELECT qid, vec_id, qsim,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
    FROM mmr3
  ) WHERE rnk = 1
)
SELECT qid, CAST(1 AS INT) AS pick, vec_id, qsim AS qsim_micro FROM sel1
UNION ALL
SELECT qid, CAST(2 AS INT) AS pick, vec_id, qsim FROM sel2
UNION ALL
SELECT qid, CAST(3 AS INT) AS pick, vec_id, qsim FROM sel3
"""


@register("llm_mmr_diversify", oracle=_MMR_ORACLE, tags=("llm", "similarity"))
def llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) re-ranking: from each query's
    top-8 cosine candidates, greedily pick 3 results balancing relevance
    against redundancy (λ = 0.7) — the diversification layer between raw
    ANN top-k and a RAG context window / search page.

    Scale shape: candidate generation IS llm_sim_search (broadcast query
    panel, per-query rank window); everything after is bounded by the
    candidate budget — pair similarities are 8×8 per query, and each of
    the 2 greedy rounds joins (candidates × selected ≤ 8×2) rows per
    query. The corpus-sized stages don't know MMR exists; the sequential
    greedy tail runs on panel-bounded frames, the same budget discipline
    as llm_dedup_audit. Integer micro-sim arithmetic end-to-end (see
    module comment) keeps every argmax engine-exact."""
    v = _vectors(spark, sf_dir)
    micro = lambda c: F.floor(c * F.lit(1000000.0)).cast("bigint")  # noqa: E731
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    corpus = v.filter(F.col("vec_id") >= 10)
    scored = corpus.join(F.broadcast(q)).select(
        "qid",
        "vec_id",
        "vec",
        micro(cosine_similarity(F.col("qvec"), F.col("vec"))).alias("qsim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("qsim"), F.asc("vec_id"))
    cand = scoped_persist(
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _MMR_CANDS)
        .select("qid", "vec_id", "vec", "qsim")
    )
    a = cand.select("qid", F.col("vec_id").alias("ca"), F.col("vec").alias("va"))
    b = cand.select("qid", F.col("vec_id").alias("cb"), F.col("vec").alias("vb"))
    pairs = scoped_persist(
        a.join(b, "qid")
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "qid",
            "ca",
            "cb",
            micro(cosine_similarity(F.col("va"), F.col("vb"))).alias("psim"),
        )
    )
    slim = cand.select("qid", "vec_id", "qsim")
    sel = (
        slim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("qid", "vec_id", "qsim", F.lit(1).cast("int").alias("pick"))
    )
    # MMR greedy rounds: candidates x already-selected, bounded per query
    for pick_no in range(2, _MMR_PICKS + 1):
        chosen = sel.select("qid", F.col("vec_id").alias("cb"))
        rel_pairs = pairs.join(chosen, ["qid", "cb"]).select("qid", "ca", "psim")
        remaining = slim.join(
            sel.select("qid", "vec_id"), ["qid", "vec_id"], "left_anti"
        )
        mmr = (
            remaining.join(
                F.broadcast(rel_pairs),
                (remaining.qid == rel_pairs.qid)
                & (remaining.vec_id == rel_pairs.ca),
            )
            .select(remaining.qid, remaining.vec_id, remaining.qsim, "psim")
            .groupBy("qid", "vec_id", "qsim")
            .agg(F.max("psim").alias("maxp"))
            .select(
                "qid",
                "vec_id",
                "qsim",
                (F.lit(7) * F.col("qsim") - F.lit(3) * F.col("maxp")).alias("score"),
            )
        )
        ws = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
        nxt = (
            mmr.withColumn("rnk", F.row_number().over(ws))
            .filter(F.col("rnk") == 1)
            .select("qid", "vec_id", "qsim", F.lit(pick_no).cast("int").alias("pick"))
        )
        sel = sel.unionByName(nxt)
    return sel.select("qid", "pick", "vec_id", F.col("qsim").alias("qsim_micro"))


# --- llm_emb_covariance: covariance/correlation matrix of embedding dims ------

# The whitening / PCA-prep statistic: pairwise covariance of the first
# _COV_DIMS embedding coordinates over the whole corpus. Per-row products
# are FLOOR-quantized to nano-units before summation (the _QUANT
# discipline: float sums are partition-order-dependent, quantized BIGINT
# sums are exact and commutative), so the moment matrix is bit-identical
# on any partitioning and in DuckDB. sqrt in the correlation is IEEE
# correctly-rounded — exact cross-engine (unlike pow/exp, sqrt is a
# required-exact operation).
_COV_DIMS = 16
_COV_Q = 1_000_000_000.0

_EMB_COV_ORACLE = f"""
WITH v AS (
  SELECT list_transform(embedding[1:{_COV_DIMS}], x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
d AS (
  SELECT i AS dim,
         CAST(SUM(CAST(floor(vec[i] * {_COV_Q}) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(floor(vec[i] * vec[i] * {_COV_Q}) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM v, UNNEST(range(1, {_COV_DIMS} + 1)) AS t(i)
  GROUP BY i
),
p AS (
  SELECT t.i AS dim_i, u.j AS dim_j,
         CAST(SUM(CAST(floor(vec[t.i] * vec[u.j] * {_COV_Q}) AS BIGINT)) AS BIGINT)
           AS sxy
  FROM v, UNNEST(range(1, {_COV_DIMS} + 1)) AS t(i),
       UNNEST(range(1, {_COV_DIMS} + 1)) AS u(j)
  WHERE u.j >= t.i
  GROUP BY t.i, u.j
),
m AS (
  SELECT p.dim_i, p.dim_j, di.n AS n_vecs,
         CAST(p.sxy AS DOUBLE) / (di.n * {_COV_Q})
           - (CAST(di.sx AS DOUBLE) / (di.n * {_COV_Q}))
             * (CAST(dj.sx AS DOUBLE) / (dj.n * {_COV_Q})) AS cov,
         CAST(di.sxx AS DOUBLE) / (di.n * {_COV_Q})
           - (CAST(di.sx AS DOUBLE) / (di.n * {_COV_Q}))
             * (CAST(di.sx AS DOUBLE) / (di.n * {_COV_Q})) AS var_i,
         CAST(dj.sxx AS DOUBLE) / (dj.n * {_COV_Q})
           - (CAST(dj.sx AS DOUBLE) / (dj.n * {_COV_Q}))
             * (CAST(dj.sx AS DOUBLE) / (dj.n * {_COV_Q})) AS var_j
  FROM p JOIN d di ON di.dim = p.dim_i JOIN d dj ON dj.dim = p.dim_j
)
SELECT dim_i, dim_j, n_vecs, cov,
       CASE WHEN var_i > 0 AND var_j > 0
            THEN cov / sqrt(var_i * var_j) END AS corr
FROM m
"""


@register("llm_emb_covariance", oracle=_EMB_COV_ORACLE, tags=("llm", "similarity", "stats"))
def llm_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + correlation matrix of the first 16 embedding dims over
    the corpus — the moment matrix feeding whitening, PCA projection, and
    encoder drift audits. Nano-quantized BIGINT moment sums (order-free,
    map-side combinable), final arithmetic IEEE-deterministic.

    Scale shape: NO self-join — each vector emits its 136 upper-triangle
    products map-side (a per-row generate), so the only exchange carries
    (i, j, partial-sum) cells: ~136 rows per map task regardless of
    corpus size, the llm_emb_centroid reduce shape. Output is the
    dims^2/2-row matrix, constant in the data."""
    v = table(spark, sf_dir, "embeddings").select(
        F.expr(
            f"transform(slice(embedding, 1, {_COV_DIMS}), x -> cast(x as double))"
        ).alias("vec")
    )
    # ONE generate emits both the single-dim moment entries (dim_j = 0
    # marker) and the 136 upper-triangle products — the corpus is scanned
    # once (plan-gated), and the single exchange carries (i, j, partial
    # sum) cells only
    entries = v.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {_COV_DIMS}), i -> "
                f"concat(array(named_struct("
                f"'dim_i', i, 'dim_j', 0, "
                f"'q', cast(floor(element_at(vec, i) * {_COV_Q}) as bigint))), "
                f"transform(sequence(i, {_COV_DIMS}), j -> named_struct("
                f"'dim_i', i, 'dim_j', j, "
                f"'q', cast(floor(element_at(vec, i) * element_at(vec, j) "
                f"* {_COV_Q}) as bigint))))))"
            )
        ).alias("p")
    ).select("p.dim_i", "p.dim_j", "p.q")
    cells = scoped_persist(
        entries.groupBy("dim_i", "dim_j").agg(
            F.sum("q").alias("sxy"), F.count(F.lit(1)).alias("n")
        )
    )
    d = cells.filter(F.col("dim_j") == 0).select(
        F.col("dim_i").alias("dim"),
        F.col("sxy").alias("sx"),
        F.col("n"),
    )
    dxx = cells.filter(F.col("dim_i") == F.col("dim_j")).select(
        F.col("dim_i").alias("dim"), F.col("sxy").alias("sxx")
    )
    d = d.join(dxx, "dim")
    p = cells.filter(F.col("dim_j") > 0).select("dim_i", "dim_j", "sxy")
    di = d.select(
        F.col("dim").alias("dim_i"),
        F.col("sx").alias("sx_i"),
        F.col("sxx").alias("sxx_i"),
        F.col("n").alias("n_i"),
    )
    dj = d.select(
        F.col("dim").alias("dim_j"),
        F.col("sx").alias("sx_j"),
        F.col("sxx").alias("sxx_j"),
    )
    nq = F.col("n_i") * _COV_Q
    mean_i = F.col("sx_i").cast("double") / nq
    mean_j = F.col("sx_j").cast("double") / nq
    cov = F.col("sxy").cast("double") / nq - mean_i * mean_j
    var_i = F.col("sxx_i").cast("double") / nq - mean_i * mean_i
    var_j = F.col("sxx_j").cast("double") / nq - mean_j * mean_j
    return (
        p.join(F.broadcast(di), "dim_i")
        .join(F.broadcast(dj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            F.col("n_i").alias("n_vecs"),
            cov.alias("cov"),
            F.when((var_i > 0) & (var_j > 0), cov / F.sqrt(var_i * var_j)).alias(
                "corr"
            ),
        )
    )


# --- llm_emb_outliers: centroid-distance outlier screen ------------------------

# The embedding-space data-quality gate every curation pipeline runs
# before training on a new corpus slice: vectors far from the corpus
# centroid are mislabeled, corrupted, or off-distribution. Exactness
# recipe (the agg_anova two-pass design lifted to vectors): coordinates
# floor-quantized to 1e-8 BIGINTs, per-dim centroid taken as FLOOR-DIV
# integers, squared distance accumulated as exact DECIMAL(38,0) (|x| <=
# ~0.6, 64 dims -> dist2q <= ~1e18, inside BIGINT), then micro-floored;
# the z-score moments over those micro integers are exact, and the
# OUTLIER verdict is cross-multiplied into pure integers —
# (n*d - s1)^2 > 4*(n*s2 - s1^2) <=> |z| > 2 — so the flag can never
# flip on a double ulp.
_EMB_OUTLIERS_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100000000.0)
                                              AS BIGINT)) AS q
  FROM embeddings
),
e AS (SELECT vec_id, i AS dim, q[i] AS qx FROM v, UNNEST(range(1, 65)) AS t(i)),
c AS (
  SELECT dim, CAST(SUM(qx) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY dim
),
m AS (
  SELECT dim,
         CASE WHEN s >= 0 THEN s // n ELSE -((-s + n - 1) // n) END AS md
  FROM c
),
d2 AS (
  SELECT e.vec_id,
         CAST(SUM(CAST((e.qx - m.md) * (e.qx - m.md) AS HUGEINT)) AS BIGINT) AS d2q
  FROM e JOIN m ON m.dim = e.dim GROUP BY e.vec_id
),
dm AS (SELECT vec_id, d2q // 10000000000 AS d2m FROM d2),
mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d2m) AS BIGINT) AS s1,
         SUM(CAST(d2m AS HUGEINT) * d2m) AS s2
  FROM dm
)
SELECT dm.vec_id,
       CAST(dm.d2m AS DOUBLE) / 1000000.0 AS dist2,
       ROUND((CAST(mo.n AS DOUBLE) * dm.d2m - mo.s1)
             / sqrt(CAST(mo.n * mo.s2 - CAST(mo.s1 AS HUGEINT) * mo.s1 AS DOUBLE)),
             6) AS z_score,
       CAST(CASE WHEN CAST(mo.n * dm.d2m - mo.s1 AS HUGEINT)
                      * (mo.n * dm.d2m - mo.s1)
                      > 4 * (mo.n * mo.s2 - CAST(mo.s1 AS HUGEINT) * mo.s1)
                 THEN 1 ELSE 0 END AS BIGINT) AS outlier
FROM dm CROSS JOIN mo
"""


@register("llm_emb_outliers", oracle=_EMB_OUTLIERS_ORACLE, tags=("llm", "similarity", "quality"))
def llm_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier screen over the embedding corpus:
    squared distance to the global centroid, corpus z-score, and an
    integer-exact |z| > 2 outlier flag — the vector-space companion to
    dq_outlier_iqr. All arithmetic below the closing report is exact
    integers (see module comment), so flags are bit-stable under any
    partitioning.

    Scale shape: pass 1 collapses the corpus to 64 per-dim (sum, count)
    cells — map-side combinable, the llm_emb_centroid exchange; the
    64-element centroid array is then BROADCAST back and pass 2 computes
    every distance in a zip_with/aggregate fold with ZERO exchange; pass
    3 is one global (n, s1, s2) moment collapse broadcast back onto the
    per-row frame. Three passes, each exchanging cells, never vectors."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 100000000.0) as bigint))"
        ).alias("q"),
    )
    e = v.select("vec_id", F.posexplode("q").alias("pos", "qx")).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), "qx"
    )
    c = e.groupBy("dim").agg(
        F.sum("qx").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # floor-div centroid (negative-safe: Spark/DuckDB integer div truncates
    # toward zero, so negative sums are floored explicitly on both sides)
    m = c.select(
        "dim",
        F.expr(
            "CASE WHEN s >= 0 THEN s div n ELSE -((-s + n - 1) div n) END"
        ).alias("md"),
    )
    carr = m.agg(
        F.expr("transform(array_sort(collect_list(struct(dim, md))), p -> p.md)").alias(
            "cent"
        )
    )
    d2 = (
        v.crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            F.expr(
                "cast(aggregate(zip_with(q, cent, (x, m) -> cast((x - m) * (x - m) as decimal(38,0))), "
                "cast(0 as decimal(38,0)), (a, e) -> a + e) as bigint)"
            ).alias("d2q"),
        )
    )
    dm = scoped_persist(
        d2.select("vec_id", F.expr("d2q div 10000000000").alias("d2m"))
    )
    mo = dm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d2m").cast("bigint").alias("s1"),
        F.sum(F.col("d2m").cast("decimal(38,0)") * F.col("d2m")).alias("s2"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    s1d = F.col("s1").cast("decimal(38,0)")
    varnum = nd * F.col("s2") - s1d * s1d  # n^2 * variance (exact)
    znum = nd * F.col("d2m") - s1d  # n * (d - mean) (exact)
    return dm.crossJoin(F.broadcast(mo)).select(
        "vec_id",
        (F.col("d2m").cast("double") / 1000000.0).alias("dist2"),
        F.round(znum.cast("double") / F.sqrt(varnum.cast("double")), 6).alias(
            "z_score"
        ),
        F.when(znum * znum > 4 * varnum, 1).otherwise(0).cast("bigint").alias(
            "outlier"
        ),
    )


# --- llm_knn_graph: k-nearest-neighbor graph over embeddings -------------------

# The structure semantic-dedup clusters and diversity samplers are built
# ON: every vector's k nearest neighbors. Blocked by label (the IVF-cell
# stand-in on this fixture: in production the blocking key is the
# coarse-quantizer cell, exactly llm_sim_search_ivf's assignment), so the
# pair expansion is per-block quadratic, never corpus-quadratic. Cosines
# are the sequential-fold bit-exact kind; the per-vector top-3 is a rank
# window on the block-bounded pair table.
_KNN_K = 3

_KNN_ORACLE = f"""
WITH v AS ({_LABELED_VECTORS_DUCK}),
pairs AS (
  SELECT a.vec_id AS qid, a.label, b.vec_id AS nid,
         {cosine_similarity_duckdb('a.vec', 'b.vec', DIMS)} AS cosine
  FROM v a JOIN v b ON b.label = a.label AND b.vec_id <> a.vec_id
),
ranked AS (
  SELECT qid, label, nid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
  FROM pairs
)
SELECT qid, label, nid, cosine, rnk FROM ranked WHERE rnk <= {_KNN_K}
"""


@register("llm_knn_graph", oracle=_KNN_ORACLE, tags=("llm", "similarity"))
def llm_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph (k=3) over embeddings, blocked by label: each vector's
    three nearest in-block neighbors by cosine. This is the input
    structure for semantic-dedup clustering, MMR diversification, and
    graph-based outlier pruning; at 100 TB the blocking key is the IVF
    coarse cell (llm_sim_search_ivf's assignment) instead of the label —
    the same bounded-block pair expansion either way.

    Scale shape (third measured form — see BASELINE.md round-10): the
    block score matrix is computed by a COGROUPED Arrow kernel, one
    (label, salt) cell per group. The query side is SALTED (vec_id %
    n_salt) and the corpus side replicated n_salt-fold, so the O(block^2)
    cosine arithmetic spreads over |blocks| x n_salt cells — the same
    grid the round-9 relational form used to defeat AQE's byte-based
    coalescing (which can't see compute cost), with n_salt derived from
    the measured widest block (~2M pairs per cell, floor 16, cap 256).
    Each cell transfers its vectors ONCE over Arrow and scores the whole
    a x b matrix as 64 dimension-major vectorized accumulations —
    bit-identical to the sequential aggregate()/list_reduce fold (each
    pair still sees s = (s + a_i*b_i) left-to-right in IEEE doubles), so
    the unpruned relational ORACLE still matches exactly. Local top-k is
    emitted directly from the kernel: a query's pairs all live in its
    one cell, so the old corpus-sized pair shuffle + rank window (the
    sf10 find: ~100 GB exchanged, spilled, wall 2294 s) disappears —
    nothing block-sized ever crosses a shuffle. Measured walls, sf10:
    2294 s (relational pair join + window) -> 1291 s (sample-threshold
    prune, exchange fixed but interpreted-fold compute-bound) -> this
    form; all three bit-identical vs the oracle."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    )
    # n_salt derives from MEASURED block width (VERDICT r9 item 6), not a
    # constant: per-(label, salt) cell pair count is block^2 / n_salt, so
    # n_salt = ceil(max_block^2 / PAIRS_PER_CELL) bounds each Arrow
    # kernel invocation at ~20M vectorized cosine cells (~1 s of numpy,
    # ~160 MB of score matrix) regardless of decade. The budget is 10x
    # the relational form's 2M-fold tasks because the kernel's per-pair
    # cost is ~100x lower — keeping 2M here would over-salt, and the
    # replication bytes (corpus x n_salt through the exchange AND the
    # Arrow boundary) were the measured sf10 bottleneck at 238 salts.
    # Floor 16, cap 256. The stats pass is one map-side count-by-label
    # over ids only — metadata-grade next to the O(block^2) kernel it
    # sizes.
    _PAIRS_PER_TASK = 20_000_000
    stats = (
        v.groupBy("label")
        .count()
        .agg(F.max("count"), F.count(F.lit(1)))
        .collect()[0]
    )
    max_block, n_blocks = (stats[0] or 1), (stats[1] or 1)
    n_salt = min(256, max(16, -(-(max_block * max_block) // _PAIRS_PER_TASK)))
    # the partition count must TRACK the block x salt cell grid, not the
    # static shuffle.partitions: at sf10 the grid is ~2400 cells and a
    # 32-partition exchange would pack ~75 cells (150M pairs) per task —
    # fine on local[32] (cores saturate either way) but a parallelism cap
    # on a real cluster. Ceiling 4096 bounds scheduler overhead.
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        min(4096, n_blocks * n_salt),
    )
    # repartition with an EXPLICIT partition count (REPARTITION_BY_NUM):
    # hashpartitioning(label, salt, n_part) satisfies the cogroup's
    # ClusteredDistribution, so the Arrow kernel consumes THIS exchange
    # and AQE never coalesces the compute grid into fewer tasks
    salt_dim = F.broadcast(
        spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
    )
    a = v.withColumn("salt", (F.col("vec_id") % n_salt).cast("int")).repartition(
        n_part, "label", "salt"
    )
    # fresh scan for the corpus side: cogroup sides sharing one plan's
    # attribute ids trip the ambiguous-self-join analyzer check
    v_b = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    )
    b = v_b.crossJoin(salt_dim).repartition(n_part, "label", "salt")
    k = _KNN_K

    def score_cell(key, a_pdf, b_pdf):
        """Score one (label, salt) cell: queries a_pdf x corpus b_pdf.

        The dot/norm folds are dimension-major vectorized accumulations —
        per pair, the SAME left-to-right (s + a_i*b_i) IEEE sequence the
        Catalyst aggregate() fold and the DuckDB list_reduce oracle
        compute, so every cosine is bit-identical to the relational form.
        Zero-norm operands yield NULL cosine (emitted as Python None),
        ranked after every real cosine by (cosine DESC NULLS LAST, nid)
        exactly like the rank window did."""
        import numpy as np
        import pandas as pd

        cols = ["qid", "label", "nid", "cosine", "rnk"]
        dtypes = ["int64", "int32", "int64", "float64", "int32"]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame(
                {c: pd.Series([], dtype=d) for c, d in zip(cols, dtypes)}
            )
        A = np.stack(a_pdf["vec"].to_numpy())
        B = np.stack(b_pdf["vec"].to_numpy())
        dims = A.shape[1]
        dots = np.zeros((len(A), len(B)))
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        # preallocated product buffer: 64 fresh outer-product allocations
        # per cell were pure allocator/bandwidth churn (~10 GB per 20M-pair
        # cell); out= keeps the same per-element multiply-then-add IEEE
        # sequence, so cosines stay bit-identical to the sequential fold
        tmp = np.empty_like(dots)
        for i in range(dims):
            np.multiply(A[:, i, None], B[None, :, i], out=tmp)
            np.add(dots, tmp, out=dots)
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        na = np.sqrt(na)
        nb = np.sqrt(nb)
        denom = np.outer(na, nb)
        aq = a_pdf["vec_id"].to_numpy()
        bn = b_pdf["vec_id"].to_numpy()
        label = int(key[0])
        out = []
        neg_inf = float("-inf")
        for r in range(len(A)):
            valid = denom[r] != 0.0
            # -inf sentinel orders invalid (NULL) cosines after every real
            # one; real cosines are finite so the sentinel can't collide
            cos = np.full(len(B), neg_inf)
            np.divide(dots[r], denom[r], out=cos, where=valid)
            others = np.nonzero(bn != aq[r])[0]
            if others.size == 0:
                continue
            order = np.lexsort((bn[others], -cos[others]))
            for rnk, j in enumerate(others[order[:k]], 1):
                out.append(
                    (
                        int(aq[r]),
                        label,
                        int(bn[j]),
                        float(cos[j]) if cos[j] != neg_inf else None,
                        rnk,
                    )
                )
        return pd.DataFrame(out, columns=cols)

    return (
        a.groupBy("label", "salt")
        .cogroup(b.groupBy("label", "salt"))
        .applyInPandas(
            score_cell,
            schema="qid bigint, label int, nid bigint, cosine double, rnk int",
        )
    )


# --- llm_label_medoid: exemplar selection per cluster ---------------------------

# Dataset distillation / few-shot exemplar picking: the member closest to
# its cluster centroid is the cluster's prototype. The centroid is the
# fixed-point-quantized per-dimension mean (the llm_emb_centroid cells);
# every member's squared distance to it accumulates over EXACT quantized
# integer terms, so the argmin (min over a (dist, vec_id) struct) is
# bit-deterministic in both engines.
_MEDOID_ORACLE = f"""
WITH v AS ({_LABELED_VECTORS_DUCK}),
e AS (
  SELECT vec_id, label, i AS dim, vec[i] AS val
  FROM v, UNNEST(range(1, 65)) AS t(i)
),
cent AS (
  SELECT label, dim,
         CAST(SUM(CAST(floor(val * 1000000000.0) AS BIGINT)) AS DOUBLE)
           / (COUNT(*) * 1000000000.0) AS c
  FROM e GROUP BY label, dim
),
dist AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(CAST(floor((e.val - c.c) * (e.val - c.c) * 1000000000.0)
                       AS BIGINT)) AS BIGINT) AS d_q
  FROM e JOIN cent c ON c.label = e.label AND c.dim = e.dim
  GROUP BY e.vec_id, e.label
),
ranked AS (
  SELECT label, vec_id, d_q,
         row_number() OVER (PARTITION BY label ORDER BY d_q, vec_id) AS rnk
  FROM dist
)
SELECT label, vec_id AS medoid_id,
       ROUND(CAST(d_q AS DOUBLE) / 1000000000.0, 9) AS dist_sq
FROM ranked WHERE rnk = 1
"""


@register("llm_label_medoid", oracle=_MEDOID_ORACLE, tags=("llm", "similarity", "clustering"))
def llm_label_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label medoid (member nearest the label centroid) — exemplar
    selection for dataset distillation and few-shot prompt building.
    The centroid reuses llm_emb_centroid's fixed-point cell math;
    distances accumulate over quantized integer terms so the argmin is
    bit-deterministic.

    Scale shape: dims explode map-locally; the centroid is a (label,
    dim) cell aggregate (k*64 rows — broadcastable at any corpus
    size); per-member distances re-collapse map-side; the final argmin
    is a rank-1 window on the |labels| grain. Two linear passes, no
    quadratic anything."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    )
    e = v.select(
        "vec_id",
        "label",
        F.posexplode("vec").alias("dim0", "val"),
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "val")
    e = scoped_persist(e)
    cent = e.groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("val") * 1000000000.0).cast("bigint")).cast(
                "double"
            )
            / (F.count(F.lit(1)) * 1000000000.0)
        ).alias("c")
    )
    dist = (
        e.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.floor(
                    (F.col("val") - F.col("c"))
                    * (F.col("val") - F.col("c"))
                    * 1000000000.0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("d_q")
        )
    )
    w = Window.partitionBy("label").orderBy(F.asc("d_q"), F.asc("vec_id"))
    return (
        dist.select(
            "label", "vec_id", "d_q", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") == 1)
        .select(
            "label",
            F.col("vec_id").alias("medoid_id"),
            F.round(F.col("d_q").cast("double") / 1000000000.0, 9).alias(
                "dist_sq"
            ),
        )
    )


# --- llm_rrf_fusion: reciprocal-rank fusion of keyword + vector retrieval -------

# Hybrid retrieval is how production RAG actually ranks: a lexical list
# and a dense list, fused by reciprocal rank — rrf(d) = sum_lists
# 1/(K + rank_d) with K=60 (Cormack & Clarke's constant), robust to the
# incomparable score scales. RRF is DEFINED over truncated lists (docs
# outside a list contribute 0), which is exactly what makes it scale:
# each side needs only its top-M, a TakeOrderedAndProject partial top-k
# that never global-sorts the corpus. Ranks are exact integers from a
# deterministic (score desc, id) order; 1.0/(60+rank) is one identical
# IEEE division in both engines and the fused score is a fixed 2-term
# sum — no fold-order exposure anywhere.
_RRF_M = 100  # per-list truncation (the fusion contract, not a shortcut)
_RRF_K = 60
_RRF_TERMS = "'the', 'a', 'of', 'and', 'is'"

_RRF_FUSION_ORACLE = f"""
WITH kw AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '),
             t -> list_contains([{_RRF_TERMS}], t))) AS kw_score
  FROM documents WHERE text IS NOT NULL
),
kw_top AS (
  SELECT doc_id, kw_score,
         row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
  FROM (SELECT * FROM kw ORDER BY kw_score DESC, doc_id LIMIT {_RRF_M}) t
),
v AS ({_VECTORS_DUCK}),
q AS (SELECT vec AS qvec FROM v WHERE vec_id = 0),
vec_top AS (
  SELECT vec_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, vec_id) AS vec_rank
  FROM (
    SELECT v.vec_id, {{cos}} AS cosine
    FROM v CROSS JOIN q WHERE v.vec_id <> 0
    ORDER BY cosine DESC, vec_id LIMIT {_RRF_M}
  ) t
),
fused AS (
  SELECT COALESCE(k.doc_id, e.vec_id) AS doc_id,
         k.kw_rank, e.vec_rank,
         COALESCE(1.0 / ({_RRF_K} + k.kw_rank), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + e.vec_rank), 0.0) AS rrf
  FROM kw_top k FULL OUTER JOIN vec_top e ON e.vec_id = k.doc_id
)
SELECT doc_id, kw_rank, vec_rank, ROUND(rrf, 9) AS rrf_score
FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
"""


@register(
    "llm_rrf_fusion",
    oracle=_RRF_FUSION_ORACLE.format(
        cos=cosine_similarity_duckdb("v.vec", "q.qvec", DIMS)
    ),
    tags=("llm", "similarity"),
)
def llm_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical ranking (panel-term hits over
    documents) and a dense ranking (cosine to query vector 0 over
    embeddings), RRF K=60, fused top-20 — the hybrid-retrieval step
    between llm_bm25_score and llm_sim_search (the reference has no
    retrieval at all; north-star RAG family).

    Scale shape: each list is a TakeOrderedAndProject top-100 (partial
    top-k per partition, never a global sort); ranks, the full-outer
    fusion join, and the final top-20 all ride the two 100-row lists.
    Ranks are exact integers under a deterministic (score, id) order;
    the fused score is a fixed 2-term sum of identical IEEE divisions —
    no fold, no libm."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    terms = F.array(*[F.lit(t) for t in ("the", "a", "of", "and", "is")])
    kw = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda t: F.array_contains(terms, t))
        ).alias("kw_score"),
    )
    kw_top = (
        kw.orderBy(F.desc("kw_score"), F.asc("doc_id"))
        .limit(_RRF_M)
        .withColumn(
            "kw_rank",
            F.row_number().over(
                Window.orderBy(F.desc("kw_score"), F.asc("doc_id"))
            ),
        )
    )
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    scored = (
        v.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            cosine_similarity(F.col("vec"), F.col("qvec")).alias("cosine"),
        )
    )
    vec_top = (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_RRF_M)
        .withColumn(
            "vec_rank",
            F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("vec_id"))),
        )
    )
    fused = kw_top.join(
        vec_top, kw_top.doc_id == vec_top.vec_id, "full_outer"
    ).select(
        F.coalesce(kw_top.doc_id, vec_top.vec_id).alias("doc_id"),
        "kw_rank",
        "vec_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("kw_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("vec_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "kw_rank", "vec_rank", F.round("rrf", 9).alias("rrf_score"))
    )
