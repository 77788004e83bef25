"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.K).

All five operators are pure Catalyst column expressions over the
``documents`` fixture — per-row map work with at most one aggregation
shuffle, so they scale linearly and stay inside whole-stage codegen. Every
one is oracle-checked bit-exact against DuckDB.

Reference parity: the reference's only string processing is lowercasing and
f-string interpolation (main.py:159, 223); these operators implement the
north-star LLM-pipeline mandate (BASELINE.json): language-ID, quality
scoring, token counting, fingerprinting, corpus statistics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.hashing import (
    POLY_BASE,
    POLY_MOD,
    shingle_hashes_duckdb,
    shingle_hashes_spark_sql,
    token_hashes_duckdb,
    token_hashes_spark_sql,
)
from ..functions.text import shingles_duckdb, shingles_spark, tokens_duckdb, tokens_spark
from ..registry import register
from ..session import scoped_persist
from ..tables import rebalance_for_map, table

# --- llm_text_stats -----------------------------------------------------------

_TEXT_STATS_ORACLE = """
WITH t AS (
  SELECT lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
)
SELECT lang,
       COUNT(*) AS doc_cnt,
       -- CAST: DuckDB SUM yields HUGEINT (→ pandas float64); Spark emits BIGINT
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS chars_per_token,
       CAST(SUM(n_distinct) AS DOUBLE) / COUNT(*) AS avg_vocab,
       COUNT(DISTINCT source) AS n_sources
FROM t GROUP BY lang
"""


@register("llm_text_stats", oracle=_TEXT_STATS_ORACLE, tags=("llm", "text"))
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc/token counts, chars-per-token,
    per-doc vocabulary, source coverage. One hash-aggregate shuffle on a
    low-cardinality key; ratios derived from exact integer sums so the
    doubles divide identically in both engines."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.sum("n_tokens")).alias("chars_per_token"),
        (F.sum("n_distinct").cast("double") / F.count(F.lit(1))).alias("avg_vocab"),
        F.countDistinct("source").alias("n_sources"),
    )


# --- llm_token_count ----------------------------------------------------------

# BPE-ish lexer: letter runs, digit runs, any other non-space symbol.
# Spelled with a literal space class so Java regex and RE2 agree.
_TOKEN_RE = "[a-z]+|[0-9]+|[^ a-z0-9]"

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_TOKEN_RE}')) AS bpe_tokens,
       length(text) AS chars
FROM documents
"""


@register("llm_token_count", oracle=_TOKEN_COUNT_ORACLE, tags=("llm", "text"))
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split (word count) and a BPE-ish
    regex lexer (letter runs / digit runs / symbols) — the cheap proxy for
    LLM token budgeting. Per-row expressions, embarrassingly parallel."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")).cast("long").alias(
            "bpe_tokens"
        ),
        F.length("text").cast("long").alias("chars"),
    )


# --- llm_lang_id --------------------------------------------------------------

# Tiny stopword profiles. The heuristic is the operator under test — scoring
# + argmax with a deterministic tiebreak — not linguistic accuracy (the
# fixture corpus is a synthetic token soup).
_PROFILES = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "de", "et", "est"],
    "zh": ["的", "是", "了", "在", "和"],
}
_LANGS = list(_PROFILES)  # tiebreak priority order


def _score_spark(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _PROFILES[lang])
    return f"size(filter(split(text, ' '), t -> array_contains(array({arr}), t)))"


def _score_duck(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _PROFILES[lang])
    return f"len(list_filter(string_split(text, ' '), t -> list_contains([{arr}], t)))"


def _argmax_case(scores: dict[str, str]) -> str:
    """CASE chain: first language (in _LANGS order) whose score is maximal."""
    clauses = []
    for lang in _LANGS:
        others = " AND ".join(
            f"{scores[lang]} >= {scores[o]}" for o in _LANGS if o != lang
        )
        clauses.append(f"WHEN {others} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


_LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {", ".join(f"{_score_duck(lg)} AS s_{lg}" for lg in _LANGS)}
  FROM documents
)
SELECT doc_id, labeled_lang,
       {_argmax_case({lg: f"s_{lg}" for lg in _LANGS})} AS predicted_lang,
       {" + ".join(f"s_{lg}" for lg in _LANGS)} AS stopword_hits
FROM scored
"""


@register("llm_lang_id", oracle=_LANG_ID_ORACLE, tags=("llm", "text"))
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by stopword-profile scoring: count tokens in
    each language's profile, argmax with a fixed tiebreak order. Profiles
    are literals folded into the plan — per-row work, no shuffle, no UDF."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.expr(_score_spark(lg)).cast("long").alias(f"s_{lg}") for lg in _LANGS],
    )
    pred = F.expr(_argmax_case({lg: f"s_{lg}" for lg in _LANGS}))
    hits = None
    for lg in _LANGS:
        c = F.col(f"s_{lg}")
        hits = c if hits is None else hits + c
    return scored.select(
        "doc_id", "labeled_lang", pred.alias("predicted_lang"), hits.alias("stopword_hits")
    )


# --- llm_quality_score --------------------------------------------------------

_QUALITY_ORACLE = """
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the', 'a', 'of', 'and', 'is'], t))) AS n_stop,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       CAST(n_uniq AS DOUBLE) / n_tok AS type_token_ratio,
       CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok AS avg_token_len,
       CASE WHEN n_tok >= 20 AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.3 THEN 1 ELSE 0 END
         AS keep_flag
FROM m
"""


@register("llm_quality_score", oracle=_QUALITY_ORACLE, tags=("llm", "text"))
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: type-token ratio, stopword ratio, mean
    token length, and the keep/drop gate a pretraining filter would apply.
    Pure per-row arithmetic from exact integer counts."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(w) for w in _PROFILES["en"]])
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("long").alias("n_stop"),
        F.length("text").cast("long").alias("n_chars"),
    )
    ttr = F.col("n_uniq").cast("double") / F.col("n_tok")
    return m.select(
        "doc_id",
        ttr.alias("type_token_ratio"),
        (F.col("n_stop").cast("double") / F.col("n_tok")).alias("stopword_ratio"),
        ((F.col("n_chars") - F.col("n_tok") + 1).cast("double") / F.col("n_tok")).alias(
            "avg_token_len"
        ),
        F.when((F.col("n_tok") >= 20) & (ttr >= 0.3), 1).otherwise(0).alias("keep_flag"),
    )


# --- llm_fingerprint (winnowing) ----------------------------------------------

_FP_K = 4  # rolling window width over token hashes (winnowing w)

# rolling 4-gram composite hash at position i over token-hash array {th}
def _roll_spark(th: str) -> str:
    expr = f"element_at({th}, i)"
    for j in range(1, _FP_K):
        expr = f"({expr} * {POLY_BASE} + element_at({th}, i + {j})) % {POLY_MOD}"
    return expr


def _roll_duck(th: str) -> str:
    expr = f"{th}[i]"
    for j in range(1, _FP_K):
        expr = f"({expr} * {POLY_BASE} + {th}[i + {j}]) % {POLY_MOD}"
    return expr


_FINGERPRINT_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, {token_hashes_duckdb(tokens_duckdb('text'))} AS th FROM documents
  WHERE len(string_split(text, ' ')) >= {_FP_K}
),
grams AS (
  SELECT doc_id,
         list_transform(range(1, len(th) - {_FP_K - 1} + 1),
                        i -> {_roll_duck('th')}) AS g
  FROM hashed
),
fp AS (
  SELECT doc_id, list_distinct(g) AS f FROM grams
)
SELECT doc_id,
       len(f) AS fp_size,
       list_min(f) AS fp_min,
       list_reduce(list_prepend(CAST(0 AS BIGINT), f), (s, x) -> xor(s, x)) AS fp_xor
FROM fp
"""


@register("llm_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("llm", "text"))
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: md5 token hashes composed into
    rolling 4-gram polynomial hashes; the distinct-gram set is summarized as
    (size, min, xor-fold) — an order-insensitive content signature robust to
    small edits. Per-row array expressions only."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    # Pre-filter short docs on the CHEAP predicate so no filter sits above
    # the hash projection — a pushed-down filter over `g` would inline the
    # md5 transform into the rolling lambda and re-evaluate it per gram
    # position (measured quadratic blowup).
    hashed = docs.filter(F.size(F.split("text", " ")) >= _FP_K).select(
        "doc_id", F.expr(token_hashes_spark_sql(tokens_spark("text"))).alias("th")
    )
    grams = hashed.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(th) - {_FP_K - 1}), i -> {_roll_spark('th')})"
        ).alias("g"),
    )
    fp = grams.select("doc_id", F.array_distinct("g").alias("f"))
    return fp.select(
        "doc_id",
        F.size("f").cast("long").alias("fp_size"),
        F.array_min("f").alias("fp_min"),
        F.expr("aggregate(f, 0L, (s, x) -> s ^ x)").alias("fp_xor"),
    )


# --- llm_json_extract (SURVEY §2.K) ------------------------------------------

_JSON_EXTRACT_ORACLE = """
WITH x AS (
  SELECT event_type,
         TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type, k % 10 AS k_bucket, COUNT(*) AS cnt
FROM x WHERE k IS NOT NULL
GROUP BY event_type, k % 10
"""


@register("llm_json_extract", oracle=_JSON_EXTRACT_ORACLE, tags=("llm", "text"))
def llm_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed semi-structured extraction: from_json with an explicit schema
    (vs f_json_get's ad-hoc path access), then aggregate on the extracted
    field — the metadata-column pattern for multimodal/semi-structured
    tables. Schema-on-read stays in the scan stage; one hash-agg shuffle."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k bigint").alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return (
        parsed.filter(F.col("k").isNotNull())
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- llm_tfidf ----------------------------------------------------------------

# Term frequency per (doc_id, token) over a ``tok`` CTE; the llm_bm25_score
# oracle counts the same cells.
_TF_DUCK = """SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token"""

_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
tf AS ({_TF_DUCK}),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / df.doc_freq) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, tfidf, rnk FROM (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


@register("llm_tfidf", oracle=_TFIDF_ORACLE, tags=("llm", "text"))
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. IDF is the linear ratio
    n_docs/doc_freq (not log-scaled) so both engines compute it as one
    exact-int division — bit-exact without libm. Shape: explode → ONE big
    hash agg (tf by (doc, token)); doc_freq then derives from tf itself —
    tf has exactly one row per (doc, token), so ``count(*)`` per token IS
    the distinct-doc count. That removes the second full tokenize +
    count-distinct pass the naive formulation pays: Catalyst's
    ReuseExchange executes the tf aggregation once and feeds both the
    rescore side and the vocabulary side, so the only full-corpus shuffles
    are the tf agg and the per-doc rank window."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # scoped_persist makes the sharing explicit: the aggregated tf table
    # (vocab x docs pairs — the standard "materialize term stats once" step)
    # computes once and feeds both the rescore join and the doc_freq rollup.
    tf = scoped_persist(
        tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("doc_freq"))
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tfidf", "rnk")
    )


# --- llm_doc_chunk: context-window chunking ----------------------------------

_CHUNK = 64  # tokens per chunk
_STRIDE = 48  # chunk stride (overlap = _CHUNK - _STRIDE = 16 tokens)

_DOC_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
  FROM documents
  -- NULL text yields no chunks: without the guard, NULL-skipping
  -- greatest()/least() in BOTH engines fabricate one phantom chunk whose
  -- text renders '' in Spark (concat_ws skips NULL) but NULL in DuckDB
  -- (adversarial-fixture finding)
  WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, toks, n,
         1 + ((greatest(n - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE}) AS n_chunks
  FROM t
),
x AS (
  SELECT doc_id, toks, n, i AS chunk_id, 1 + (i - 1) * {_STRIDE} AS chunk_start
  FROM c, UNNEST(range(1, n_chunks + 1)) AS u(i)
)
SELECT doc_id, chunk_id, chunk_start,
       least({_CHUNK}, n - chunk_start + 1) AS chunk_tokens,
       array_to_string(list_slice(toks, chunk_start, chunk_start + {_CHUNK - 1}), ' ') AS chunk_text
FROM x
"""


@register("llm_doc_chunk", oracle=_DOC_CHUNK_ORACLE, tags=("llm", "text", "chunking"))
def llm_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document becomes ceil-division many
    overlapping 64-token chunks (stride 48). Pure per-row explode — zero
    shuffles, embarrassingly parallel, output size is a fixed ~4/3 expansion
    of the corpus. This is the chunking step of a training-data / RAG
    pipeline; the reference has no analog (north-star mandate).

    Chunk count uses integer ceil-division (Spark ``div`` / DuckDB ``//``);
    ``greatest(..., 0)`` guards the short-doc case so ``sequence`` never
    sees a negative length (Spark would generate a DESCENDING range)."""
    # NULL text → no chunks (see the oracle's WHERE comment)
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = docs.select(
        "doc_id",
        F.expr(tokens_spark("text")).alias("toks"),
        F.expr(f"size({tokens_spark('text')})").alias("n"),
        F.expr(
            f"1 + ((greatest(size({tokens_spark('text')}) - {_CHUNK}, 0)"
            f" + {_STRIDE - 1}) div {_STRIDE})"
        ).alias("n_chunks"),
    )
    x = c.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.expr("sequence(1, n_chunks)")).alias("chunk_id"),
    ).withColumn("chunk_start", F.expr(f"1 + (chunk_id - 1) * {_STRIDE}"))
    return x.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.expr(f"least({_CHUNK}, n - chunk_start + 1)").alias("chunk_tokens"),
        F.expr(f"concat_ws(' ', slice(toks, chunk_start, {_CHUNK}))").alias("chunk_text"),
    )


# --- llm_seq_pack: contiguous sequence packing -------------------------------

_PACK_CTX = 512  # tokens per packed training sequence
_PACK_BUCKETS = 32  # independent packing streams (parallelism unit)

_SEQ_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, bucket, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY bucket ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start_off
  FROM t
)
SELECT doc_id, bucket, n_tokens,
       -- CAST: start_off is a window SUM → HUGEINT in DuckDB (→ pandas
       -- float64), and HUGEINT propagates through the arithmetic; Spark
       -- emits BIGINT for both derived columns.
       CAST(bucket * 1000000 + (start_off // {_PACK_CTX}) AS BIGINT) AS pack_id,
       CAST(start_off % {_PACK_CTX} AS BIGINT) AS pack_offset
FROM r
"""


@register("llm_seq_pack", oracle=_SEQ_PACK_ORACLE, tags=("llm", "text", "packing"))
def llm_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-and-split): documents are laid
    end-to-end in doc_id order and cut into 512-token training sequences;
    each doc is assigned the pack where its first token lands, plus its
    offset inside that pack. Packing runs independently inside 32
    hash-buckets, so the running-sum window parallelizes across buckets —
    at 100 TB each bucket is one partition-local sort + prefix sum, no
    global ordering anywhere. Deterministic (doc_id order), hence
    oracle-checked exactly."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_BUCKETS).alias("bucket"),
        F.expr(f"size({tokens_spark('text')})").alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = t.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return r.select(
        "doc_id",
        "bucket",
        "n_tokens",
        (F.col("bucket") * 1000000 + F.expr(f"start_off div {_PACK_CTX}")).alias("pack_id"),
        (F.col("start_off") % _PACK_CTX).alias("pack_offset"),
    )


# --- llm_stratified_sample: per-stratum deterministic quota ------------------

_STRAT_QUOTA = 50  # docs kept per language

_STRAT_SAMPLE_ORACLE = f"""
WITH h AS (
  SELECT lang, doc_id,
         CAST(('0x' || substring(md5(text), 1, 14)) AS BIGINT) AS sample_key
  FROM documents
),
r AS (
  SELECT lang, doc_id, sample_key,
         row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS rnk
  FROM h
)
SELECT lang, doc_id, sample_key FROM r WHERE rnk <= {_STRAT_QUOTA}
"""


@register("llm_stratified_sample", oracle=_STRAT_SAMPLE_ORACLE, tags=("llm", "text", "sample"))
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling: exactly 50 documents per language,
    chosen by content-hash order (md5-fold of the text) — reproducible
    across engines, runs, and partition layouts, unlike seed-based
    ``df.sample``. One shuffle on the stratum key. With few strata the
    exchange is skewed; at 100 TB swap the exact rank for a hash-threshold
    pre-filter (``sample_key % K < quota·K/stratum_count``, cf.
    sample_hash) and rank only the survivors — same output distribution,
    bounded per-stratum fan-in."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "lang",
        "doc_id",
        F.expr("cast(conv(substring(md5(text), 1, 14), 16, 10) as bigint)").alias("sample_key"),
    )
    w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        h.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _STRAT_QUOTA)
        .select("lang", "doc_id", "sample_key")
    )


# --- llm_ngram_counts: n-gram language-model statistics ----------------------

_NGRAM_TOP = 20  # bigrams kept per language

_NGRAM_COUNTS_ORACLE = f"""
WITH g AS (
  SELECT lang, UNNEST({shingles_duckdb(tokens_duckdb('text'), 2)}) AS bigram
  FROM documents
),
c AS (
  SELECT lang, bigram, COUNT(*) AS cnt
  FROM g GROUP BY lang, bigram
),
r AS (
  SELECT lang, bigram, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rnk
  FROM c
)
SELECT lang, bigram, cnt, rnk FROM r WHERE rnk <= {_NGRAM_TOP}
"""


@register("llm_ngram_counts", oracle=_NGRAM_COUNTS_ORACLE, tags=("llm", "text"))
def llm_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-20 bigram counts — n-gram LM statistics over the
    corpus. Explode is per-row; the count is one hash aggregate with
    map-side combine on (lang, bigram); the rank window runs over the
    already-aggregated distinct-bigram table, which is vocabulary-sized,
    not corpus-sized. At 100 TB with a huge vocabulary, pre-prune with a
    per-partition top-N before the final rank (heavy-hitters pattern) —
    the aggregate itself needs no change."""
    from pyspark.sql import Window

    # one-row-group fixture scans are 1 task; spread before the heavy
    # per-row map work (profiled single-task stage; see OPTIMIZATION_r10.md)
    docs = rebalance_for_map(
        table(spark, sf_dir, "documents").select("lang", "text"), spark
    )
    g = docs.select(
        "lang",
        F.explode(F.expr(shingles_spark(tokens_spark("text"), 2))).alias("bigram"),
    )
    c = g.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _NGRAM_TOP)
        .select("lang", "bigram", "cnt", "rnk")
    )


# --- llm_rep_filter: repetition-based quality gates ---------------------------

# Gopher-style repetition filters (Rae et al. 2021, table A1): a document is
# low-quality when a single 2-gram dominates it or when a large fraction of
# its 3-grams are repeats. Thresholds are tuned so the synthetic fixture
# corpus splits into both classes.
_REP_TOP2_MAX = 0.08  # max fraction of 2-gram occurrences taken by the mode
_REP_DUP3_MAX = 0.12  # max fraction of 3-gram occurrences that are repeats

_REP_TOKENS_DUCK = token_hashes_duckdb("string_split(text, ' ')")

_REP_FILTER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_REP_TOKENS_DUCK} AS th FROM documents
),
g AS (
  SELECT doc_id, 2 AS n, UNNEST({shingle_hashes_duckdb('th', 2)}) AS h FROM t
  UNION ALL
  SELECT doc_id, 3 AS n, UNNEST({shingle_hashes_duckdb('th', 3)}) AS h FROM t
),
c AS (SELECT doc_id, n, h, COUNT(*) AS cnt FROM g GROUP BY doc_id, n, h),
p AS (
  SELECT doc_id,
         MAX(cnt) FILTER (n = 2) AS top2_cnt,
         CAST(SUM(cnt) FILTER (n = 2) AS BIGINT) AS tot2,
         CAST(COALESCE(SUM(cnt) FILTER (n = 3 AND cnt > 1), 0) AS BIGINT) AS dup3_cnt,
         CAST(SUM(cnt) FILTER (n = 3) AS BIGINT) AS tot3
  FROM c GROUP BY doc_id
)
SELECT doc_id, top2_cnt, tot2, dup3_cnt, tot3,
       CAST(top2_cnt AS DOUBLE) / tot2 AS top2_frac,
       CAST(dup3_cnt AS DOUBLE) / tot3 AS dup3_frac,
       (CAST(top2_cnt AS DOUBLE) / tot2 <= {_REP_TOP2_MAX}
        AND CAST(dup3_cnt AS DOUBLE) / tot3 <= {_REP_DUP3_MAX}) AS keep
FROM p
"""


@register("llm_rep_filter", oracle=_REP_FILTER_ORACLE, tags=("llm", "text", "quality"))
def llm_rep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates: per document, the fraction of
    2-gram occurrences taken by the most frequent 2-gram and the fraction of
    3-gram occurrences that are repeats; a doc is kept only when both stay
    under threshold.

    Scale shape: n-grams are hashed (md5-fold composed polynomially,
    functions/hashing.py) BEFORE the explode, so the one per-gram exchange
    carries (doc_id, n, bigint) — never gram text. Both n-gram sizes ride a
    single explode/aggregate pipeline (a constant marker column) instead of
    two corpus passes; the (doc_id, n, h) count combines map-side, and the
    per-doc reduction is a second tiny exchange. All ratios divide exact
    BIGINTs, so doubles agree bit-exactly with the oracle.

    Reference parity: none (no text analytics in the reference, main.py) —
    north-star LLM-pipeline mandate."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.expr(token_hashes_spark_sql("split(text, ' ')")).alias("th")
    )
    both = (
        f"concat(transform({shingle_hashes_spark_sql('th', 2)}, h -> named_struct('n', 2, 'h', h)),"
        f" transform({shingle_hashes_spark_sql('th', 3)}, h -> named_struct('n', 3, 'h', h)))"
    )
    grams = docs.select("doc_id", F.explode(F.expr(both)).alias("g")).select(
        "doc_id", F.col("g.n").alias("n"), F.col("g.h").alias("h")
    )
    cnts = grams.groupBy("doc_id", "n", "h").agg(F.count(F.lit(1)).alias("cnt"))
    two, three = F.col("n") == 2, F.col("n") == 3
    p = cnts.groupBy("doc_id").agg(
        F.max(F.when(two, F.col("cnt"))).alias("top2_cnt"),
        F.sum(F.when(two, F.col("cnt"))).alias("tot2"),
        F.coalesce(
            F.sum(F.when(three & (F.col("cnt") > 1), F.col("cnt"))), F.lit(0).cast("long")
        ).alias("dup3_cnt"),
        F.sum(F.when(three, F.col("cnt"))).alias("tot3"),
    )
    top2_frac = F.col("top2_cnt").cast("double") / F.col("tot2")
    dup3_frac = F.col("dup3_cnt").cast("double") / F.col("tot3")
    return p.select(
        "doc_id",
        "top2_cnt",
        "tot2",
        "dup3_cnt",
        "tot3",
        top2_frac.alias("top2_frac"),
        dup3_frac.alias("dup3_frac"),
        ((top2_frac <= _REP_TOP2_MAX) & (dup3_frac <= _REP_DUP3_MAX)).alias("keep"),
    )


# --- llm_decontaminate: eval-set n-gram overlap check -------------------------

# Deterministic stand-in for an external benchmark: a fixed 5-doc panel
# (identical at every shipped sf). Real decontamination joins the corpus
# against the benchmark's n-grams exactly like this — the panel being drawn
# from the corpus itself just guarantees planted verbatim "leaks" to find.
_EVAL_PANEL_SQL = "doc_id % 97 = 13 AND doc_id < 500"
_DECON_N = 8  # n-gram width (GPT-3 used 13-gram document-level checks)

# Token hashes are staged as a CTE column BEFORE shingling: the shingle
# expression references its input once per gram offset (8x here), and DuckDB
# does not hoist a loop-invariant subexpression out of the lambda — inlining
# the md5 token-hash transform there re-hashed every token 8x per gram
# position (measured 35 s -> 0.2 s at sf0.1 for this staging alone).
_DECON_ORACLE = f"""
WITH th AS (
  SELECT doc_id, {token_hashes_duckdb("string_split(text, ' ')")} AS th
  FROM documents
),
t AS (
  SELECT doc_id, {shingle_hashes_duckdb('th', _DECON_N)} AS grams
  FROM th
),
probes AS (
  SELECT DISTINCT UNNEST(grams) AS h FROM t WHERE {_EVAL_PANEL_SQL}
),
hits AS (
  SELECT g.doc_id, g.total_grams, COUNT(DISTINCT g.h) AS hit_grams
  FROM (SELECT doc_id, CAST(len(grams) AS BIGINT) AS total_grams, UNNEST(grams) AS h FROM t) g
  JOIN probes p ON p.h = g.h
  GROUP BY g.doc_id, g.total_grams
)
SELECT doc_id, hit_grams, total_grams,
       ({_EVAL_PANEL_SQL}) AS is_eval
FROM hits
"""


@register("llm_decontaminate", oracle=_DECON_ORACLE, tags=("llm", "text", "dedup"))
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any 8-token
    n-gram with an evaluation set (here a fixed 5-doc panel standing in for
    the benchmark; eval docs flag themselves via ``is_eval``).

    Scale shape: the eval side reduces to a DISTINCT set of hashed n-grams —
    small by construction (a benchmark, not a corpus) — and is broadcast, so
    the corpus-side probe is a map-side hash join on bigints with NO shuffle
    of corpus data; only (doc_id, matched-hash) hit pairs reach the per-doc
    count. At 100 TB this is one corpus scan against a broadcast hash set,
    the same join geometry as llm_incr_dedup's digest anti join.

    Reference parity: none — north-star LLM-pipeline mandate."""
    # Stage token hashes before shingling AND persist the gram table: the
    # shingle expression references its input once per gram offset, and
    # Catalyst's CollapseProject re-inlines a staged projection — without a
    # barrier every gram position re-hashes its 8 tokens from scratch, and
    # the gram table computes twice (probe side + corpus side). The persist
    # is the difference between 183 s and 0.9 s at sf0.1 (measured); the
    # DuckDB oracle needs the identical staging for the identical reason.
    docs = scoped_persist(
        rebalance_for_map(table(spark, sf_dir, "documents"), spark)
        .select("doc_id", F.expr(token_hashes_spark_sql("split(text, ' ')")).alias("th"))
        .select("doc_id", F.expr(shingle_hashes_spark_sql("th", _DECON_N)).alias("grams"))
    )
    probes = (
        docs.filter(F.expr(_EVAL_PANEL_SQL))
        .select(F.explode("grams").alias("h"))
        .distinct()
    )
    exploded = docs.select(
        "doc_id", F.size("grams").cast("long").alias("total_grams"), F.explode("grams").alias("h")
    )
    return (
        exploded.join(F.broadcast(probes), "h")
        .groupBy("doc_id", "total_grams")
        .agg(F.countDistinct("h").alias("hit_grams"))
        .select("doc_id", "hit_grams", "total_grams", F.expr(_EVAL_PANEL_SQL).alias("is_eval"))
    )


# --- llm_pii_scrub: regex PII redaction ---------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (no lookaround,
# no backrefs) so Spark and DuckDB match identically.
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d -]{7,}\d"

# The fixture corpus is PII-free token soup, so PII is injected
# deterministically in-query (both engines build the identical corpus) —
# the operator under test is the scrubber, not the generator.
_PII_AUG_SQL = (
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || CAST(doc_id AS {str_t})"
    " || '@example.com now'"
    " WHEN doc_id % 7 = 3 THEN text || ' call +1 555 0100 200 or ping 10.0.'"
    " || CAST(doc_id % 256 AS {str_t}) || '.7 ok'"
    " ELSE text END"
)


def _pii_scrub_oracle() -> str:
    aug = _PII_AUG_SQL.format(str_t="VARCHAR")
    scrub = (
        f"regexp_replace(regexp_replace(regexp_replace(aug,"
        f" '{_PII_EMAIL}', '<EMAIL>', 'g'),"
        f" '{_PII_IPV4}', '<IP>', 'g'),"
        f" '{_PII_PHONE}', '<PHONE>', 'g')"
    )
    return f"""
WITH a AS (SELECT doc_id, {aug} AS aug FROM documents),
s AS (
  SELECT doc_id, aug,
         CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(aug, '{_PII_IPV4}')) AS BIGINT) AS n_ip,
         {scrub} AS scrubbed
  FROM a
)
SELECT doc_id, n_email, n_ip,
       CAST(length(scrubbed) AS BIGINT) AS scrub_len,
       md5(scrubbed) AS scrub_md5
FROM s
"""


@register("llm_pii_scrub", oracle=_pii_scrub_oracle(), tags=("llm", "text", "quality"))
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: email / IPv4 / phone patterns
    replaced with typed placeholder tokens, counts kept for audit. Patterns
    stay in the Java-regex ∩ RE2 subset so the oracle matches char-exact —
    asserted by comparing md5(scrubbed_text), not just counts. Pure per-row
    regexp expressions (JVM codegen, no UDF): embarrassingly parallel, the
    standard first pass of a 100 TB corpus cleanup.

    Reference parity: none (no text processing beyond lowercasing in the
    reference) — north-star LLM-pipeline mandate."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    aug = docs.select(
        "doc_id", F.expr(_PII_AUG_SQL.format(str_t="STRING")).alias("aug")
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(_PII_PHONE),
        F.lit("<PHONE>"),
    )
    s = aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(_PII_EMAIL), F.lit(0))).cast("long").alias("n_email"),
        F.size(F.regexp_extract_all("aug", F.lit(_PII_IPV4), F.lit(0))).cast("long").alias("n_ip"),
        scrubbed.alias("scrubbed"),
    )
    return s.select(
        "doc_id",
        "n_email",
        "n_ip",
        F.length("scrubbed").cast("long").alias("scrub_len"),
        F.md5("scrubbed").alias("scrub_md5"),
    )


# --- llm_domain_mix: mixture-weighted domain sampling -------------------------

# Target training mixture: budgeted picks per domain (weights × budget 60);
# domains absent from the map are excluded entirely (the "drop low-quality
# domains" case). Every quota is under the 25-docs-per-source fixture floor,
# so the mix is exactly fillable at every sf.
_MIX_QUOTAS = {"src0": 24, "src1": 18, "src2": 12, "src3": 6}

_MIX_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {q}" for s, q in _MIX_QUOTAS.items())
    + " ELSE 0 END"
)
_MIX_IN = ", ".join(f"'{s}'" for s in _MIX_QUOTAS)

_DOMAIN_MIX_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id)
           AS mix_rank
  FROM documents
  WHERE source IN ({_MIX_IN})
)
SELECT doc_id, source, mix_rank FROM ranked
WHERE mix_rank <= {_MIX_CASE.replace("CASE source", "CASE ranked.source")}
"""


@register("llm_domain_mix", oracle=_DOMAIN_MIX_ORACLE, tags=("llm", "text", "sampling"))
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted domain sampling: fill per-domain quotas (a target
    training mixture, e.g. 40/30/20/10 over four kept domains) in
    content-hash order — reproducible across engines, runs, and partition
    layouts, unlike rand()-based sampling.

    Scale shape: the IN-list prunes excluded domains AT THE SCAN (pushed
    filter on a base column), then one shuffle on ``source`` feeds the
    per-domain rank. With few huge domains the rank partitions are hot; at
    100 TB the fix is the hash-threshold pre-filter noted in
    llm_stratified_sample — take md5(text) below an approximate per-domain
    quantile first, then exact-rank only the surviving ~quota rows.

    Reference parity: none — north-star LLM-pipeline mandate."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").filter(
        F.col("source").isin(*_MIX_QUOTAS)
    )
    w = Window.partitionBy("source").orderBy(F.md5("text"), F.col("doc_id"))
    return (
        docs.withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= F.expr(_MIX_CASE))
        .select("doc_id", "source", "mix_rank")
    )


# --- llm_dataset_split --------------------------------------------------------

_SPLIT_TRAIN_PCT = 90
_SPLIT_VAL_PCT = 95  # train < 90 <= val < 95 <= test

_DATASET_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN b < {_SPLIT_TRAIN_PCT} THEN 'train'
            WHEN b < {_SPLIT_VAL_PCT}   THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS b
  FROM documents
)
"""


@register("llm_dataset_split", oracle=_DATASET_SPLIT_ORACLE, tags=("llm", "sample"))
def llm_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash of the
    document key — the split step every training-data pipeline runs last.
    Hash-based (not seed-based `randomSplit`) so membership is a pure
    function of the key: stable across runs, engines, partition layouts,
    and incremental re-ingestion (a re-crawled doc lands in the same split,
    so val/test never leak into train as the corpus grows). Zero shuffles —
    a per-row expression the scan pipeline absorbs; at 100 TB this is a
    free column, not a job."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    return docs.select(
        "doc_id",
        F.when(bucket < _SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < _SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# --- llm_corpus_prep: composed end-to-end corpus pipeline ---------------------

_PREP_MIN_CHARS = 200
_PREP_MIN_TOKENS = 20

_CORPUS_PREP_ORACLE = f"""
WITH filtered AS (
  SELECT doc_id, lang, text, n_chars
  FROM documents
  WHERE n_chars >= {_PREP_MIN_CHARS}
    AND len(string_split(text, ' ')) >= {_PREP_MIN_TOKENS}
),
deduped AS (
  SELECT (MIN(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars))).doc_id AS doc_id,
         (MIN(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars))).lang AS lang,
         (MIN(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars))).n_chars AS n_chars
  FROM filtered
  GROUP BY md5(text)
),
split AS (
  SELECT lang, n_chars,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT lang, n_chars,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 AS b
    FROM deduped
  )
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM split GROUP BY lang, split
"""


@register("llm_corpus_prep", oracle=_CORPUS_PREP_ORACLE, tags=("llm", "pipeline"))
def llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-prep pipeline COMPOSED as one logical plan:
    quality gate (length + token count) → exact dedup (first-occurrence by
    content digest, argmin-as-aggregate — one digest-keyed shuffle, never a
    window-over-everything) → deterministic train/val/test assignment
    (md5 bucket of the surviving key) → per-(lang, split) report. This is
    the shape a real 100 TB prep job has, and composing it as DataFrame
    algebra means Catalyst optimizes ACROSS stages: the quality predicates
    and the column pruning reach the scan below the dedup shuffle, and the
    whole job is two exchanges (digest, report) end to end — stages don't
    re-materialize between steps the way a script-per-stage pipeline (the
    reference's architecture, main.py:198-309) forces."""
    docs = table(spark, sf_dir, "documents")
    filtered = docs.filter(
        (F.col("n_chars") >= _PREP_MIN_CHARS)
        & (F.size(F.split(F.col("text"), " ")) >= _PREP_MIN_TOKENS)
    ).select("doc_id", "lang", "n_chars", F.md5("text").alias("digest"))
    first = (
        filtered.groupBy("digest")
        .agg(F.min(F.struct("doc_id", "lang", "n_chars")).alias("s"))
        .select(F.col("s.doc_id"), F.col("s.lang"), F.col("s.n_chars"))
    )
    bucket = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    labeled = first.select(
        "lang",
        "n_chars",
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return labeled.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --- llm_ngram_lm_score: bigram-LM fluency scoring (CCNet-style) -------------

# CCNet (Wenzek et al. 2020) ranks web documents by language-model
# perplexity; the portable analog here scores each document by the mean
# corpus probability of its bigrams, p(w2|w1) = c(w1 w2) / c(w1 ·),
# carried in FIXED-POINT integer math: per bigram q = (1e9 * c2) div c1,
# per doc lm_score_q = sum(cnt * q) div sum(cnt). Pure integer division is
# bit-identical in Spark and DuckDB — no log/exp, no float accumulation —
# so the score is exactly oracle-checkable. Higher = more fluent (the
# corpus's own common continuations); repetitive spam scores HIGH on
# p(w2|w1) mass, so this gate composes with llm_rep_filter, it does not
# replace it. At extreme scale the (1e9 * c2) product moves to DECIMAL.
_LM_SCALE = 1_000_000_000


def _lm_gram_duckdb() -> str:
    th = token_hashes_duckdb(tokens_duckdb("text"))
    return f"""
t AS (SELECT doc_id, {th} AS th FROM documents),
g AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(th) - 1, 0) + 1),
           i -> struct_pack(h1 := th[i],
                            h2 := (th[i] * {POLY_BASE} + th[i + 1]) % {POLY_MOD}))) AS b
  FROM t
),
gb AS (SELECT doc_id, b.h1 AS h1, b.h2 AS h2 FROM g),
dcnt AS (SELECT doc_id, h1, h2, COUNT(*) AS cnt FROM gb GROUP BY doc_id, h1, h2),
c2 AS (SELECT h1, h2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM dcnt GROUP BY h1, h2),
c1 AS (SELECT h1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY h1),
p AS (SELECT c2.h1, c2.h2, ({_LM_SCALE} * c2.c2) // c1.c1 AS q
      FROM c2 JOIN c1 ON c2.h1 = c1.h1)
"""


_LM_SCORE_ORACLE = f"""
WITH {_lm_gram_duckdb()}
SELECT dcnt.doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(cnt * q) AS BIGINT) // CAST(SUM(cnt) AS BIGINT) AS lm_score_q
FROM dcnt JOIN p ON dcnt.h1 = p.h1 AND dcnt.h2 = p.h2
GROUP BY dcnt.doc_id
"""


@register("llm_ngram_lm_score", oracle=_LM_SCORE_ORACLE, tags=("llm", "text"))
def llm_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per document. ONE corpus pass builds the
    per-doc gram counts (exchange keyed on (doc, gram-hash), carries
    bigints, never gram text); the global bigram table c2 DERIVES from that
    aggregate (sum per gram — no second tokenize pass, the llm_tfidf
    lesson) and the prefix table c1 derives from c2. The probability join
    touches only vocabulary-sized tables (AQE broadcasts them at test
    scale; at 100 TB they are vocab-sized, not corpus-sized, and the
    heavy-hitter split applies if one prefix dominates). Scoring is exact
    integer math end to end — see module comment — so a 1000-executor run
    reproduces this result bit for bit."""
    # one-row-group fixture scans are 1 task; spread before the heavy
    # per-row map work (profiled single-task stage; see OPTIMIZATION_r10.md)
    docs = rebalance_for_map(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    t = docs.select(
        "doc_id", F.expr(token_hashes_spark_sql(tokens_spark("text"))).alias("th")
    )
    g = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(th) >= 2 THEN transform(sequence(1, size(th) - 1), "
                "i -> struct(element_at(th, i) AS h1, "
                f"(element_at(th, i) * {POLY_BASE} + element_at(th, i + 1)) % {POLY_MOD} AS h2)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.h1", "b.h2")
    dcnt = scoped_persist(
        g.groupBy("doc_id", "h1", "h2").agg(F.count(F.lit(1)).alias("cnt"))
    )
    c2 = dcnt.groupBy("h1", "h2").agg(F.sum("cnt").alias("c2"))
    c1 = c2.groupBy("h1").agg(F.sum("c2").alias("c1"))
    probs = c2.join(c1, "h1").select(
        "h1", "h2", F.expr(f"({_LM_SCALE}L * c2) div c1").alias("q")
    )
    return (
        dcnt.join(probs, ["h1", "h2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.expr("CAST(sum(cnt * q) AS BIGINT) div CAST(sum(cnt) AS BIGINT)").alias(
                "lm_score_q"
            ),
        )
    )


# --- llm_doc_shard: deterministic training-shard assignment ------------------

# Training loaders need (a) a pseudo-random global order decoupled from crawl
# order (adjacent-doc correlation poisons SGD), (b) a FIXED shard for each
# doc so re-runs resume identically, (c) no global sort. md5 gives all
# three: shard = hash bucket, within-shard order = hash hex (unique tie-break
# by doc_id). Both engines share the md5 byte-for-byte.
_N_SHARDS = 8

_DOC_SHARD_ORACLE = f"""
WITH h AS (
  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_N_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos,
       CAST(SUM(n_chars) OVER (PARTITION BY shard ORDER BY hx, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS chars_so_far
FROM h
"""


@register("llm_doc_shard", oracle=_DOC_SHARD_ORACLE, tags=("llm", "text", "sample"))
def llm_doc_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset sharding for distributed training loaders:
    every document gets a stable (shard, pos) address — shard from a
    content-independent key hash, position from the hash-ordered window
    WITHIN the shard, plus a running character total (the loader's
    progress/offset bookkeeping). The window partitions by shard, so the
    sort is per-shard — 8 independent sorts here, N independent sorts at
    scale, never a global one; the exchange is the same hash partitioning
    the write would use, so assignment and sharded write share one
    shuffle. Re-running on a grown corpus leaves every old doc's shard
    fixed (hash, not round-robin) — only positions shift, which is what
    makes incremental re-sharding cheap."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
        F.expr(
            f"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            f" % {_N_SHARDS}"
        ).alias("shard"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return h.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("pos"),
        F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("chars_so_far"),
    )


# --- llm_ngram_novelty: per-doc novelty vs the prior corpus ------------------

# Novelty = the fraction of a document's DISTINCT 3-gram shingles whose first
# corpus occurrence (min doc_id over the whole corpus) is this document.
# Crawl-ordered doc_ids make this "how much of this doc is new text" — the
# dataset-curation signal behind dedup thresholds and boilerplate tracking.
_NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {token_hashes_duckdb(tokens_duckdb('text'))} AS th
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s
  FROM t, UNNEST({shingle_hashes_duckdb('th')}) AS u(s)
),
first_seen AS (
  SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(COUNT(*) FILTER (WHERE f.first_doc = sh.doc_id) AS BIGINT)
         AS n_novel,
       CAST(COUNT(*) FILTER (WHERE f.first_doc = sh.doc_id) AS DOUBLE)
         / COUNT(*) AS novelty
FROM sh JOIN first_seen f ON f.s = sh.s
GROUP BY sh.doc_id
"""


@register("llm_ngram_novelty", oracle=_NOVELTY_ORACLE, tags=("llm", "text", "dedup"))
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score: the share of the doc's distinct 3-gram
    shingles first seen (min doc_id) in that document. One shingle
    explode → dedup → min-over-window keyed on the shingle hash → per-doc
    ratio. The window formulation computes the per-shingle first occurrence
    AND hands it back to every member row in ONE exchange (an unbounded min
    needs no frame state) — one shuffle fewer than aggregate+join-back, and
    the carried payload is (hash, doc_id) pairs — never text. This is the
    curation signal for crawl snapshots: a snapshot whose novelty mass
    collapses is re-crawl, not new data. The ingestion-order min makes the
    score reproducible no matter how partitions are laid out."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    # round-11 (guide §2.4 "two operations keyed the same way can share one
    # exchange"): the (doc_id, s) dedup and the per-shingle min-window BOTH
    # only need rows co-located by s — hashpartitioning(s) satisfies the
    # dedup's (doc_id, s) clustering requirement, so an explicit
    # repartition("s") lets the dedup aggregate AND the window ride ONE
    # exchange instead of two (the old distinct exchanged on (doc_id, s),
    # then the window re-exchanged on s). The exchange now carries raw
    # exploded pairs rather than deduped ones, but within-doc repeated
    # shingles are ~0.1% of rows (260 704 raw vs 260 388 distinct at
    # sf0.1), so the swap removes a full 260k-row exchange for free. The
    # md5/shingle compute still runs in the rebalanced scan stage, and
    # every exchanged row is a pair of longs — never text.
    # round-11, the bigger fix (guide §1.2 "per-task work", profiled 65.8 s
    # CPU at sf0.1): the old one-expression form nested the md5 token-hash
    # transform INSIDE the shingle lambda, so every element_at(th, i+j)
    # re-evaluated the WHOLE token-hash array — 3 full md5 passes over the
    # doc per shingle position, O(n²) md5 calls per doc. Materializing th
    # as its own projection first (the llm_minhash_dedup pattern) hashes
    # each token exactly once; CollapseProject leaves a multiply-referenced
    # non-cheap alias alone, so the split survives optimization.
    hashed = docs.select(
        "doc_id",
        F.expr(token_hashes_spark_sql(tokens_spark("text"))).alias("th"),
    )
    sh = (
        hashed.select(
            "doc_id",
            F.explode(F.expr(shingle_hashes_spark_sql("th"))).alias("s"),
        )
        .repartition("s")
        .dropDuplicates(["doc_id", "s"])
    )
    from pyspark.sql import Window

    # min-over-window instead of aggregate+join-back: the per-shingle first
    # occurrence and its redistribution to member rows need no extra
    # exchange at all — both dedup and window reuse the repartition("s")
    # layout (an unbounded min needs no frame state).
    w = Window.partitionBy("s")
    tagged = sh.select("doc_id", "s", F.min("doc_id").over(w).alias("first_doc"))
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_novel"),
            (
                F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
    )


# --- llm_bpe_pair_counts: one BPE-merge iteration's statistics ---------------

# Word frequencies of the corpus (words of 2+ chars), the vocabulary both
# BPE oracles pair characters over.
_VOCAB_DUCK = """SELECT t AS word, COUNT(*) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
  WHERE len(t) >= 2
  GROUP BY t"""

# The tokenizer-training primitive: BPE training repeatedly (1) counts
# adjacent symbol pairs across the corpus vocabulary weighted by word
# frequency, (2) merges the argmax pair. This operator is step (1) — the
# part that touches corpus-scale data; the merge itself is a driver-side
# table update on the top row.
_BPE_TOP = 20

_BPE_ORACLE = f"""
WITH vocab AS ({_VOCAB_DUCK}),
pairs AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM vocab, UNNEST(range(1, len(word))) AS r(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {_BPE_TOP}
"""


@register("llm_bpe_pair_counts", oracle=_BPE_ORACLE, tags=("llm", "text"))
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-merge iteration's pair statistics: corpus → word vocabulary
    with frequencies (the first aggregate collapses the corpus to its
    distinct words — at 100 TB this is the step that shrinks billions of
    tokens to a vocabulary of millions, and every later iteration works on
    THAT, never re-scanning the corpus) → adjacent character-pair counts
    weighted by word frequency → deterministic top-20 (count desc, pair
    asc) via TakeOrderedAndProject. Two map-side-combined exchanges: token
    counts keyed on the word, pair counts keyed on the 2-char pair. This is
    the data-parallel half of tokenizer training; the merge-table update it
    feeds is O(1) driver work per iteration."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOP)
    )


# --- llm_dataset_card: one-pass corpus summary report ------------------------

_DATASET_CARD_ORACLE = """
WITH per_doc AS (
  SELECT doc_id, lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         md5(text) AS h
  FROM documents
),
dup AS (
  SELECT COUNT(*) - COUNT(DISTINCT h) AS n_dup_docs FROM per_doc
)
SELECT
  (SELECT COUNT(*) FROM per_doc) AS n_docs,
  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM per_doc) AS total_chars,
  (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per_doc) AS total_tokens,
  (SELECT COUNT(DISTINCT lang) FROM per_doc) AS n_langs,
  (SELECT string_agg(DISTINCT lang, ',' ORDER BY lang) FROM per_doc) AS langs,
  (SELECT COUNT(DISTINCT source) FROM per_doc) AS n_sources,
  (SELECT n_dup_docs FROM dup) AS n_dup_docs,
  (SELECT CAST(MIN(n_chars) AS BIGINT) FROM per_doc) AS min_chars,
  (SELECT CAST(MAX(n_chars) AS BIGINT) FROM per_doc) AS max_chars
"""


@register("llm_dataset_card", oracle=_DATASET_CARD_ORACLE, tags=("llm", "text", "quality"))
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics — the summary block every published training
    corpus ships (docs, chars, tokens, language/source coverage, exact-dup
    count, length extremes) — computed in ONE corpus scan: the per-doc
    projection derives tokens and content hash alongside the metadata, and
    a single global aggregate folds all nine metrics (count-distinct on
    the 32-hex digest rides the same exchange as the sums; the sorted-CSV
    language list is bounded by the language inventory, not the corpus).
    At 100 TB: one pass, map-side partials for everything, and the final
    reduce carries one row. The oracle spells it as scalar subqueries —
    same values, deliberately naive shape."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_dup_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# --- llm_quality_classifier: model-based quality scoring ---------------------

# A 5-feature logistic-regression scorer with LITERAL weights (a stand-in
# for coefficients fit offline — in production the vector is broadcast the
# same way). Output is the LOGIT, not sigmoid(logit): the linear form is
# pure +/x on identical doubles in a fixed association order, so it is
# bit-identical across engines, while exp() is libm-dependent. Ranking,
# thresholding, and calibration all operate on the logit unchanged.
_QCLS_ORACLE = """
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr,
         CAST(len(list_filter(string_split(text, ' '),
              t -> list_contains(['the', 'a', 'of', 'and', 'is'], t))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_tok,
         CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
           / length(text) AS nonalpha_ratio
  FROM documents
)
SELECT doc_id,
       ((((-1.2 + 0.01 * n_tok) + 2.0 * ttr) + 4.0 * stop_ratio)
         + (-0.1) * chars_per_tok) + (-6.0) * nonalpha_ratio AS logit,
       CASE WHEN ((((-1.2 + 0.01 * n_tok) + 2.0 * ttr) + 4.0 * stop_ratio)
         + (-0.1) * chars_per_tok) + (-6.0) * nonalpha_ratio > 0.0
         THEN 1 ELSE 0 END AS keep_flag
FROM f
"""


@register("llm_quality_classifier", oracle=_QCLS_ORACLE, tags=("llm", "text"))
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the classifier-scoring step of a
    FineWeb/Gopher-style curation pipeline): engineered per-document
    features x a literal logistic-regression weight vector -> logit +
    keep flag. llm_quality_score is the RULE tier (hand thresholds);
    this is the LEARNED tier — same features, but the decision boundary
    comes from offline-fit coefficients, which is how real corpus
    curation encodes "looks like reference text".

    Scale design: the weight vector is a broadcast-sized constant (here
    literal; a fitted model's coefficients ship the same way), features
    are one codegen projection over the corpus scan — zero shuffles, zero
    Python, embarrassingly parallel. Determinism: the score stays in
    LOGIT space with a pinned left-assoc sum order — pure IEEE +/x on
    identical inputs is bit-identical in both engines, where sigmoid's
    exp() would drift by libm ulps (the f_trig lesson). The weights are tuned so the
    fixture corpus splits ~56/44 on the flag — both branches exercised at
    every SF."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin("the", "a", "of", "and", "is"),
            )
        ).cast("double")
        / F.size(toks)
    )
    chars_per_tok = F.length("text").cast("double") / F.size(toks)
    nonalpha_ratio = (
        F.length(F.regexp_replace("text", "[a-z ]", "")).cast("double")
        / F.length("text")
    )
    logit = (
        (
            ((F.lit(-1.2) + F.lit(0.01) * n_tok) + F.lit(2.0) * ttr)
            + F.lit(4.0) * stop_ratio
        )
        + F.lit(-0.1) * chars_per_tok
    ) + F.lit(-6.0) * nonalpha_ratio
    return docs.select(
        "doc_id",
        logit.alias("logit"),
        F.when(logit > 0.0, 1).otherwise(0).alias("keep_flag"),
    )


# --- llm_domain_upsample: epoch-weighted corpus mixing -----------------------

# Mix weights are a deterministic function of the source id (srcN -> N%4+1
# epochs), so both engines derive identical weights with no config table.
# The repeat is sequence+explode — generated rows, nothing shuffled.
_DOMAIN_UPSAMPLE_ORACLE = """
WITH w AS (
  SELECT doc_id, source, n_chars,
         CAST(substr(source, 4) AS INT) % 4 + 1 AS weight
  FROM documents
)
SELECT w.doc_id, w.source, w.weight, CAST(r.epoch AS BIGINT) AS epoch,
       w.doc_id * 8 + r.epoch AS sample_id,
       CAST(w.n_chars AS BIGINT) AS n_chars
FROM w, UNNEST(generate_series(1, w.weight)) AS r(epoch)
"""


@register("llm_domain_upsample", oracle=_DOMAIN_UPSAMPLE_ORACLE, tags=("llm", "text"))
def llm_domain_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted domain upsampling: each document is repeated
    weight(source) times (1-4 epochs) with a stable per-repeat sample_id
    — how a training mix boosts under-represented domains (the
    DoReMi/Pile-style integer-epoch half of mixture weighting; the
    fractional half is llm_domain_mix's hash sampling). sequence+explode
    generates the repeats map-side — zero shuffle, output rows never
    exceed max_weight x input, and the derived sample_id keeps every
    repeat addressable downstream (shuffle/pack stages need distinct
    keys). At 100 TB the fan-out multiplies scan output, not exchanges."""
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.expr("cast(substring(source, 4) as int)") % 4 + 1).alias("weight"),
    )
    return w.select(
        "doc_id",
        "source",
        "weight",
        F.explode(F.expr("sequence(1, weight)")).alias("epoch"),
        "n_chars",
    ).select(
        "doc_id",
        "source",
        "weight",
        F.col("epoch").cast("bigint").alias("epoch"),
        (F.col("doc_id") * 8 + F.col("epoch")).alias("sample_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# --- llm_pmi_collocations: corpus collocation mining -------------------------

# PMI ranking without log(): both engines rank by the SAME monotone
# integer-scaled ratio floor(1000 * p(w1,w2) / (p(w1) p(w2))) — the double
# multiply/divide chain is written identically on both sides (exact
# integer operands < 2^53, left-associative), so the floor is bit-stable
# and no libm call ever runs. log() would rank identically but its ulp
# differences across libms break value-hash parity.
_PMI_MIN_COUNT = 3
_PMI_TOP = 20

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS ts FROM documents
),
uni AS (
  SELECT t AS word, COUNT(*) AS c
  FROM toks, UNNEST(ts) AS u(t)
  GROUP BY t
),
big AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS c12
  FROM toks, UNNEST(range(1, len(ts))) AS r(i)
  GROUP BY ts[i], ts[i + 1]
),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_uni,
         (SELECT CAST(SUM(c12) AS BIGINT) FROM big) AS n_big
)
SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
       CAST(FLOOR(CAST(b.c12 AS DOUBLE) * CAST(t.n_uni AS DOUBLE)
                  * CAST(t.n_uni AS DOUBLE) * 1000.0
                  / (CAST(t.n_big AS DOUBLE) * CAST(u1.c AS DOUBLE)
                     * CAST(u2.c AS DOUBLE))) AS BIGINT) AS pmi_scaled
FROM big b
JOIN uni u1 ON b.w1 = u1.word
JOIN uni u2 ON b.w2 = u2.word
CROSS JOIN tot t
WHERE b.c12 >= {_PMI_MIN_COUNT}
ORDER BY pmi_scaled DESC, b.w1, b.w2
LIMIT {_PMI_TOP}
"""


@register("llm_pmi_collocations", oracle=_PMI_ORACLE, tags=("llm", "text"))
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top bigrams by pointwise mutual information
    — the phrase-detection pass (word2vec-phrases, tokenizer merge
    candidates) a corpus pipeline runs before embedding. Two hash
    aggregates (bigrams keyed on the pair, unigrams on the word — both
    map-side combined, carrying counts never text), then the bigram table
    joins the unigram counts TWICE with the unigram side broadcast (a
    vocabulary is millions of rows — broadcastable — while bigrams scale
    with the corpus and must not move twice). Ranking uses a monotone
    integer-scaled PMI ratio instead of log() so cross-engine parity is
    exact; the deterministic top-20 plans as TakeOrderedAndProject."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    toks = docs.select(F.split("text", " ").alias("ts"))
    # both count tables are consumed multiple times (u1, u2, totals /
    # join, totals) — persist them so the corpus is scanned exactly twice
    # (once per aggregate build), not once per reference
    uni = scoped_persist(
        toks.select(F.explode("ts").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = scoped_persist(
        # size >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead
        # of returning empty, and element_at(_, 0) throws under ANSI
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_uni")).crossJoin(
        big.agg(F.sum("c12").cast("bigint").alias("n_big"))
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    joined = (
        big.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .join(F.broadcast(tot))
    )
    pmi = joined.select(
        "w1",
        "w2",
        "c12",
        "c1",
        "c2",
        F.floor(
            F.col("c12").cast("double")
            * F.col("n_uni").cast("double")
            * F.col("n_uni").cast("double")
            * F.lit(1000.0)
            / (
                F.col("n_big").cast("double")
                * F.col("c1").cast("double")
                * F.col("c2").cast("double")
            )
        )
        .cast("bigint")
        .alias("pmi_scaled"),
    )
    return pmi.orderBy(F.desc("pmi_scaled"), "w1", "w2").limit(_PMI_TOP)


# --- llm_bpe_merge_apply: one full BPE train step (count -> merge -> recount) -

# llm_bpe_pair_counts is step (1) of BPE training; this closes the loop:
# argmax pair -> apply the merge to the (spaced-symbol) vocabulary ->
# recount adjacent SYMBOL pairs. The merge uses plain literal replace()
# (leftmost, non-overlapping in both engines — exactly BPE's left-to-right
# merge order); symbols are space-delimited so a merged 2-char symbol
# stays atomic for the recount. The argmax pair joins in as a broadcast
# 1-row relation — no collect, the driver never sees data.
_BPE2_TOP = 20

_BPE2_ORACLE = f"""
WITH vocab AS ({_VOCAB_DUCK}),
charpairs AS (
  SELECT substr(word, i, 2) AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM vocab, UNNEST(range(1, len(word))) AS r(i)
  GROUP BY pair
),
top1 AS (
  SELECT pair AS merge_pair,
         substr(pair, 1, 1) || ' ' || substr(pair, 2, 1) AS search
  FROM charpairs ORDER BY cnt DESC, pair LIMIT 1
),
spaced AS (
  SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sp, freq FROM vocab
),
merged AS (
  SELECT replace(sp.sp, t.search, t.merge_pair) AS sp, sp.freq, t.merge_pair
  FROM spaced sp CROSS JOIN top1 t
),
sympairs AS (
  SELECT m.merge_pair,
         syms[i] || '|' || syms[i + 1] AS pair,
         m.freq
  FROM (SELECT merge_pair, string_split(sp, ' ') AS syms, freq FROM merged) m,
       UNNEST(range(1, len(syms))) AS r(i)
)
SELECT merge_pair, pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM sympairs
GROUP BY merge_pair, pair
ORDER BY cnt DESC, pair
LIMIT {_BPE2_TOP}
"""


@register("llm_bpe_merge_apply", oracle=_BPE2_ORACLE, tags=("llm", "text"))
def llm_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One complete BPE training step: count char pairs over the frequency-
    weighted vocabulary, pick the argmax merge (count desc, pair asc —
    the deterministic tiebreak real tokenizers pin), APPLY it to the
    spaced-symbol vocabulary with literal replace() (leftmost non-
    overlapping = BPE's merge order), and recount adjacent symbol pairs.
    Everything stays relational: the corpus collapses to the vocabulary
    once (the scale step — later iterations never re-scan the corpus),
    the argmax is a 1-row TakeOrdered broadcast-joined onto the
    vocabulary (no collect), and both pair counts are map-side-combined
    hash aggregates keyed on short symbol strings. Iterating this
    operator k times IS tokenizer training; each step costs two
    vocabulary-sized exchanges."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    charpairs = (
        vocab.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    top1 = (
        charpairs.orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select(
            F.col("pair").alias("merge_pair"),
            F.concat(
                F.expr("substring(pair, 1, 1)"), F.lit(" "), F.expr("substring(pair, 2, 1)")
            ).alias("search"),
        )
    )
    spaced = vocab.select(
        F.rtrim(F.regexp_replace("word", "(.)", "$1 ")).alias("sp"), "freq"
    )
    merged = spaced.crossJoin(F.broadcast(top1)).select(
        F.expr("replace(sp, search, merge_pair)").alias("sp"), "freq", "merge_pair"
    )
    sympairs = (
        merged.select(
            "merge_pair", F.split("sp", " ").alias("syms"), "freq"
        )
        .filter(F.size("syms") >= 2)
        .select(
            "merge_pair",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> concat(element_at(syms, i), '|', element_at(syms, i + 1)))"
                )
            ).alias("pair"),
            "freq",
        )
    )
    return (
        sympairs.groupBy("merge_pair", "pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE2_TOP)
    )


# --- llm_dataset_diff: corpus snapshot delta ---------------------------------

# Snapshot B is derived deterministically from the fixture corpus
# (removals: id % 11 = 0; edits: id % 7 = 0 gets a suffix; additions:
# id % 13 = 0 re-enters under -(id + 1) — negative ids can NEVER collide
# with real non-negative doc_ids at any scale factor, where a fixed
# additive offset would collide once the corpus exceeds it), so both
# engines construct the identical pair of snapshots and the diff itself
# is what gets checked.
_DATASET_DIFF_ORACLE = """
WITH a AS (
  SELECT doc_id, md5(text) AS h, n_chars FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS h,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 3 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT -(doc_id + 1), md5(text || ' new'), n_chars + 4
  FROM documents WHERE doc_id % 13 = 0
),
d AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.h <> b.h THEN 'changed'
              ELSE 'unchanged' END AS status,
         coalesce(b.n_chars, a.n_chars) AS n_chars
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY status
"""


@register("llm_dataset_diff", oracle=_DATASET_DIFF_ORACLE, tags=("llm", "text", "quality"))
def llm_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: classify every document across two corpus
    snapshots as added / removed / changed / unchanged by content digest
    — the audit a training-data registry publishes between releases (and
    the precondition for incremental re-tokenization: only 'added' +
    'changed' re-enter the pipeline). ONE full outer join keyed on
    doc_id — both snapshots hash-partition on the same key, so at 100 TB
    this is a co-partitioned merge with no skew surprises — carrying
    (id, digest, chars) triples, never text; the digest comparison is
    md5 equality, and the status rollup rides the join's output. The
    snapshot-B derivation is deterministic fixture scaffolding; a real
    run reads two manifest tables."""
    docs = table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.md5("text").alias("h"), "n_chars")
    b_kept = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" v2"))))
        .otherwise(F.md5("text"))
        .alias("h"),
        F.when(F.col("doc_id") % 7 == 0, F.col("n_chars") + 3)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    b_new = docs.filter(F.col("doc_id") % 13 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("h"),
        (F.col("n_chars") + 4).alias("n_chars"),
    )
    b = b_kept.unionByName(b_new)
    # Presence is tested on the join-side KEY (mirrors the oracle's
    # a.doc_id/b.doc_id IS NULL), not on the md5 digest: a NULL-text
    # document would make the digest NULL and misclassify a matched row.
    d = a.alias("a").join(b.alias("b"), "doc_id", "full_outer").select(
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("b.n_chars"), F.col("a.n_chars")).alias("n_chars"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --- llm_pref_pairs -------------------------------------------------------------

# Preference-pair construction (RLHF / DPO data prep): within each
# (source, lang) bucket, pair the highest-scoring document against the
# lowest-scoring one. Both extremes come out of ONE hash aggregate via the
# min/max(struct) argmin/argmax idiom — map-side combinable, so the exchange
# carries two structs per bucket regardless of corpus size. Score is the
# type-token ratio (exact integer counts; one double division per row,
# identical IEEE op in both engines); ties break on doc_id, which is unique.
_PREF_PAIRS_ORACLE = """
WITH s AS (
  SELECT source, lang, doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS score
  FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
p AS (
  SELECT source, lang,
         MAX(struct_pack(score := score, doc_id := doc_id)) AS best,
         MIN(struct_pack(score := score, doc_id := doc_id)) AS worst,
         COUNT(*) AS n_candidates
  FROM s GROUP BY source, lang
)
SELECT source, lang, n_candidates,
       best.doc_id AS chosen_doc_id, best.score AS chosen_score,
       worst.doc_id AS rejected_doc_id, worst.score AS rejected_score,
       best.score - worst.score AS margin
FROM p
WHERE best.doc_id <> worst.doc_id AND best.score > worst.score
"""


@register("llm_pref_pairs", oracle=_PREF_PAIRS_ORACLE, tags=("llm", "text", "agg"))
def llm_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (chosen, rejected) preference pairs per (source, lang) bucket —
    the DPO/RLHF data-prep step that turns a scored corpus into contrastive
    training rows. Single hash aggregate with min/max(struct(score, doc_id))
    argmin/argmax state: two 16-byte structs per bucket cross the exchange,
    never documents, so the shape is identical at sf0.001 and 100 TB.
    Degenerate buckets (one candidate, or zero margin) are dropped — a pair
    with no preference signal is noise to a DPO loss."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    s = docs.select(
        "source",
        "lang",
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("score"),
        F.size(toks).alias("n_tok"),
    ).filter(F.col("n_tok") >= 5)
    p = s.groupBy("source", "lang").agg(
        F.max(F.struct("score", "doc_id")).alias("best"),
        F.min(F.struct("score", "doc_id")).alias("worst"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return p.filter(
        (F.col("best.doc_id") != F.col("worst.doc_id"))
        & (F.col("best.score") > F.col("worst.score"))
    ).select(
        "source",
        "lang",
        "n_candidates",
        F.col("best.doc_id").alias("chosen_doc_id"),
        F.col("best.score").alias("chosen_score"),
        F.col("worst.doc_id").alias("rejected_doc_id"),
        F.col("worst.score").alias("rejected_score"),
        (F.col("best.score") - F.col("worst.score")).alias("margin"),
    )


# --- llm_text_normalize ---------------------------------------------------------

# Unicode NFC normalization + whitespace canonicalization — the first step of
# every web-corpus prep (the reference passes `sensor.name` strings straight
# through, main.py:152-161; a multilingual crawl cannot). Spark has no NFC
# built-in, so this is a deliberate Arrow-batched pandas UDF (the documented
# slow path, §2.J) around `unicodedata.normalize`; everything else (the mojibake
# injection, whitespace collapse, digesting) stays JVM-side in codegen.
#
# The fixture corpus is pure ASCII, where NFC is the identity — so both
# engines first inject the SAME mix of decomposed (e + U+0301) and precomposed
# (U+00E9) accents plus tab runs, keyed on doc_id % 4. After NFC the two
# accent encodings converge to one byte sequence: that convergence is the
# behavior under test, doc-for-doc, via md5.
# Spark's char()/chr() wraps at 256 (char(769) == char(1)), so the accent
# codepoints are embedded as real unicode literals in BOTH engines' SQL —
# the two strings below are identical apart from concat syntax.
_COMBINING_ACUTE = "\u0301"  # U+0301, combining acute
_PRECOMPOSED_E = "\u00e9"  # U+00E9, e-acute
_TEXT_NORM_DIRTY_SPARK = (
    "CASE CAST(doc_id % 4 AS INT) "
    f"WHEN 1 THEN replace(text, 'e', 'e{_COMBINING_ACUTE}') "
    f"WHEN 2 THEN replace(text, 'e', '{_PRECOMPOSED_E}') "
    "WHEN 3 THEN concat('\\t', replace(text, ' ', '  '), '\\t') "
    "ELSE text END"
)
_TEXT_NORM_DIRTY_DUCK = (
    "CASE CAST(doc_id % 4 AS INT) "
    f"WHEN 1 THEN replace(text, 'e', 'e{_COMBINING_ACUTE}') "
    f"WHEN 2 THEN replace(text, 'e', '{_PRECOMPOSED_E}') "
    "WHEN 3 THEN chr(9) || replace(text, ' ', '  ') || chr(9) "
    "ELSE text END"
)

_TEXT_NORMALIZE_ORACLE = f"""
WITH dirty AS (
  SELECT doc_id, {_TEXT_NORM_DIRTY_DUCK} AS raw FROM documents
),
norm AS (
  SELECT doc_id, raw,
         trim(regexp_replace(nfc_normalize(raw), '[ \\t]+', ' ', 'g')) AS clean
  FROM dirty
)
SELECT doc_id, md5(clean) AS clean_md5, length(clean) AS n_chars,
       CAST(clean <> raw AS INT) AS was_dirty
FROM norm
"""


@register("llm_text_normalize", oracle=_TEXT_NORMALIZE_ORACLE, tags=("llm", "text", "udf"))
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalize and whitespace-canonicalize every document; emit the
    digest, length, and a was-dirty flag. The NFC step is a vectorized
    pandas UDF (Arrow batches, one Python call per ~10k rows — not per row);
    injection, collapse, trim, and md5 are Catalyst built-ins. Per-row map
    work with zero shuffles: at 100 TB this is the embarrassingly parallel
    class where throughput is executors × per-core scan rate, and the Python
    boundary crosses the text column exactly once."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("string")
    def nfc(s):
        import unicodedata  # noqa: PLC0415

        return s.map(lambda v: None if v is None else unicodedata.normalize("NFC", v))

    docs = table(spark, sf_dir, "documents")
    dirty = docs.select("doc_id", F.expr(_TEXT_NORM_DIRTY_SPARK).alias("raw"))
    clean = F.trim(F.regexp_replace(nfc(F.col("raw")), "[ \\t]+", " "))
    return dirty.select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("n_chars"),
        (clean != F.col("raw")).cast("int").alias("was_dirty"),
    )


# --- llm_bm25_score: BM25 retrieval scoring ----------------------------------

# BM25 with the RATIONAL Robertson idf (N - df + 0.5)/(df + 0.5) — the
# llm_tfidf recipe: no libm log, so idf is one exact division and the
# whole score is a deterministic IEEE expression over identical integer
# inputs in both engines. tf saturation and length normalization (the
# parts that make BM25 beat raw tf-idf in retrieval) are kept verbatim
# (k1 = 1.2, b = 0.75). Per-term contributions are FLOOR-quantized to
# 1e-9 units BEFORE the per-doc sum — double sums are fold-order-
# dependent across engines/partitionings, integer sums are not.
_BM25_PANEL = 4  # query = the 4 highest-df corpus terms (deterministic)
_BM25_EXPR = (
    "CAST(FLOOR(((CAST(n_docs AS DOUBLE) - doc_freq + 0.5) / (doc_freq + 0.5)) * "
    "((CAST(tf AS DOUBLE) * 2.2) / "
    "(tf + 1.2 * (0.25 + 0.75 * (dl / (CAST(total_toks AS DOUBLE) / n_docs))))) "
    "* 1000000000.0) AS BIGINT)"
)

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS ({_TF_DUCK}),
dfq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS total_toks
  FROM documents
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
panel AS (
  SELECT token, doc_freq FROM dfq ORDER BY doc_freq DESC, token LIMIT {_BM25_PANEL}
),
contrib AS (
  SELECT tf.doc_id, {_BM25_EXPR} AS q
  FROM tf JOIN panel USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, CAST(SUM(q) AS BIGINT) AS bm25_q,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM contrib GROUP BY doc_id
ORDER BY bm25_q DESC, doc_id LIMIT 10
"""


@register("llm_bm25_score", oracle=_BM25_ORACLE, tags=("llm", "text"))
def llm_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval over a deterministic 4-term query (the
    corpus's highest-df terms): tf saturation + document-length
    normalization — the production sibling of llm_tfidf. ONE tokenize →
    tf hash aggregate feeds term stats AND the scoring join (the tfidf
    ReuseExchange shape); the 4-row query panel and the doc-length table
    broadcast onto it, so the only corpus-sized shuffles are the tf
    aggregate and nothing else — the final top-10 is
    TakeOrderedAndProject, no global sort. The scoring expression is the
    SAME text in Spark and DuckDB (identical IEEE op tree over identical
    integers), and per-term scores are integer-quantized before summing,
    so the ranking is engine- and partitioning-exact."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = scoped_persist(
        tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    panel = dfq.orderBy(F.desc("doc_freq"), F.asc("token")).limit(_BM25_PANEL)
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_toks"),
    )
    dl = docs.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl"))
    contrib = (
        tf.join(F.broadcast(panel), "token")
        .join(F.broadcast(dl), "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_EXPR).alias("q"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("q").cast("bigint").alias("bm25_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
        .orderBy(F.desc("bm25_q"), F.asc("doc_id"))
        .limit(10)
    )


# --- llm_sentence_split: sentence segmentation stats --------------------------

# Per-document sentence segmentation — the unit most quality filters and
# chunkers actually want (llm_doc_chunk slices by characters; RAG and
# readability metrics slice by SENTENCE). Whitespace is canonicalized
# first so the split and the length accounting agree between engines;
# the whole operator is per-row array algebra — zero exchanges, linear
# scan scale (the llm_text_stats class).
_SENTENCE_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             string_split_regex(regexp_replace(text, '\\s+', ' ', 'g'), '[.!?]+'),
             x -> trim(x)
           ),
           x -> length(x) > 0
         ) AS sents
  FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       -- COALESCE: list_sum([]) is NULL in DuckDB where Spark's aggregate()
       -- fold yields its 0 seed; NULL text stays NULL via the CASE guard
       -- (adversarial-fixture finding)
       CASE WHEN sents IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(list_transform(sents, x -> length(x))), 0)
                      AS BIGINT) END AS sum_chars,
       CAST(list_max(list_transform(sents, x -> length(x))) AS BIGINT) AS max_chars,
       CASE WHEN len(sents) > 0
            THEN CAST(list_sum(list_transform(sents, x -> length(x))) AS DOUBLE)
                 / CAST(len(sents) AS DOUBLE)
            END AS avg_chars
FROM s
"""


@register("llm_sentence_split", oracle=_SENTENCE_ORACLE, tags=("llm", "text"))
def llm_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats per document: terminator-regex split
    ([.!?]+ after whitespace canonicalization), trimmed and
    empties-dropped, reporting sentence count, total/max/mean sentence
    length — the sentence-grain profile quality filters and RAG chunkers
    key on (llm_doc_chunk is character-grain; this is the linguistic
    grain). Everything is per-row Catalyst array algebra (split /
    transform / filter / aggregate): ZERO exchanges, no Python boundary,
    embarrassingly parallel at any corpus size (plan-gated)."""
    # no rebalance: a pure per-row projection keeps the scan's own
    # partitioning — zero exchanges end to end (plan-gated)
    docs = table(spark, sf_dir, "documents")
    sents = F.expr(
        r"""filter(
              transform(split(regexp_replace(text, '\\s+', ' '), '[.!?]+'),
                        x -> trim(x)),
              x -> length(x) > 0)"""
    )
    d = docs.select("doc_id", sents.alias("sents"))
    lens = F.expr("transform(sents, x -> length(x))")
    n = F.size("sents").cast("bigint")
    total = F.expr(
        "aggregate(transform(sents, x -> CAST(length(x) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return d.select(
        "doc_id",
        n.alias("n_sentences"),
        total.alias("sum_chars"),
        F.array_max(lens).cast("bigint").alias("max_chars"),
        F.when(n > 0, total.cast("double") / n.cast("double")).alias("avg_chars"),
    )


# --- llm_zipf_fit: rank-frequency power-law exponent --------------------------

# Does the corpus look like natural language? Natural text follows Zipf's
# law (freq ∝ rank^-s with s ≈ 1); machine-generated or templated corpora
# bend the curve. The fit is ordinary least squares of ln(freq) on
# ln(rank) over the top-100 tokens. Both ln() calls see IDENTICAL inputs
# in each engine (exact BIGINT rank / count), each ln is FLOOR-quantized
# to integer micro-units BEFORE the OLS power sums, and the closed-form
# slope is one division of two exact BIGINTs — the ts_autocorr fixed-point
# recipe applied to a regression over aggregates. Magnitudes: q-values ≤
# ln(2^63)·1e6 < 4.4e7, so Σ qx·qy over 100 terms < 2e17 — BIGINT-safe at
# any corpus size (logs, not counts, cross the arithmetic).
_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT token, COUNT(*) AS freq
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(freq) AS BIGINT) AS total_tokens
  FROM freq
),
top AS (
  SELECT token, freq FROM freq ORDER BY freq DESC, token LIMIT {_ZIPF_TOP}
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk FROM top
),
q AS (
  SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS qx,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0) AS BIGINT) AS qy
  FROM ranked
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
         CAST(SUM(qx * qy) AS BIGINT) AS sxy,
         CAST(SUM(qx * qx) AS BIGINT) AS sxx
  FROM q
)
SELECT c.vocab_size, c.total_tokens, s.n AS n_fit,
       CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
         / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE) AS zipf_slope
FROM sums s CROSS JOIN corpus c
"""


@register("llm_zipf_fit", oracle=_ZIPF_ORACLE, tags=("llm", "text", "agg"))
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus token distribution: OLS slope of
    ln(freq) on ln(rank) over the top-100 tokens — the canonical
    "does this corpus look like natural language" diagnostic (templated /
    synthetic text bends the rank-frequency line; |slope| far from 1 flags
    it). Reports vocab size, total tokens, and the fitted exponent.

    Scale shape: ONE tokenize + hash aggregate builds the frequency table
    (the only corpus-sized shuffle, shared via persist with the vocab
    rollup); top-100 plans as TakeOrderedAndProject (no global sort), the
    rank window then runs over exactly 100 rows. OLS power sums are
    FLOOR-quantized BIGINTs (see module comment) so the slope is
    engine-exact; logs — not counts — cross the arithmetic, so the
    integers stay bounded at any corpus size."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    freq = scoped_persist(tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    corpus = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("freq").cast("bigint").alias("total_tokens"),
    )
    top = freq.orderBy(F.desc("freq"), F.asc("token")).limit(_ZIPF_TOP)
    ranked = top.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("token")))
        .alias("rnk"),
    )
    q = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1000000.0)
        .cast("bigint")
        .alias("qx"),
        F.floor(F.log(F.col("freq").cast("double")) * 1000000.0)
        .cast("bigint")
        .alias("qy"),
    )
    sums = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qx").cast("bigint").alias("sx"),
        F.sum("qy").cast("bigint").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).cast("bigint").alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return sums.join(F.broadcast(corpus)).select(
        "vocab_size",
        "total_tokens",
        F.col("n").alias("n_fit"),
        slope.alias("zipf_slope"),
    )


# --- llm_cdc_chunk: content-defined chunking ---------------------------------

# Each document's space-split token array and its length, the base the
# llm_cdc_chunk, llm_span_mask and llm_sft_format oracles slice.
_TOKEN_ARRAY_DUCK = """SELECT doc_id, string_split(text, ' ') AS arr,
         len(string_split(text, ' ')) AS n
  FROM documents"""

# Fixed-size chunking (llm_doc_chunk) breaks dedup the moment one token
# shifts every boundary downstream; CONTENT-DEFINED chunking cuts where a
# rolling fingerprint of the local content hits a criterion, so an edit
# only perturbs the chunks it touches — the storage-dedup / incremental-
# ingest chunking discipline. Criterion here: a break BEFORE token i
# whenever the 4-token window ending at i-1 hashes to 0 mod 64 (md5 head
# nibbles — engine-portable; expected chunk ≈ 64 tokens). The entire
# pipeline — window hashing, breakpoint detection, chunk slicing, chunk
# digests — is per-row Catalyst array algebra; the ONLY row expansion is
# the final map-side inline() of the per-doc chunk structs. Zero
# exchanges (plan-gated). Guard: sequence(5, n) only when n ≥ 5 —
# sequence with start > stop DESCENDS in Spark rather than being empty.
_CDC_MOD = 64

_CDC_ORACLE = f"""
WITH base AS ({_TOKEN_ARRAY_DUCK}),
b AS (
  SELECT doc_id, arr, n,
         CASE WHEN n >= 5 THEN
           list_filter(range(5, n + 1), i ->
             CAST(('0x' || substring(md5(
               array_to_string(list_slice(arr, i - 4, i - 1), ' ')), 1, 4))
               AS BIGINT) % {_CDC_MOD} = 0)
         ELSE [] END AS brks
  FROM base
),
bounds AS (
  SELECT doc_id, arr,
         list_concat(list_concat([CAST(1 AS BIGINT)], brks),
                     [CAST(n + 1 AS BIGINT)]) AS bd
  FROM b
),
chunks AS (
  SELECT doc_id,
         list_transform(range(1, len(bd)), c -> struct_pack(
           chunk_idx := CAST(c AS INT),
           n_tokens := CAST(bd[c + 1] - bd[c] AS BIGINT),
           digest := md5(array_to_string(
             list_slice(arr, CAST(bd[c] AS INT), CAST(bd[c + 1] - 1 AS INT)), ' '))
         )) AS cs
  FROM bounds
)
SELECT doc_id, u.chunk_idx, u.n_tokens, u.digest
FROM chunks, UNNEST(cs) AS t(u)
"""


@register("llm_cdc_chunk", oracle=_CDC_ORACLE, tags=("llm", "text"))
def llm_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: cut a document where the rolling 4-token
    window's hash ≡ 0 (mod 64), emit (chunk_idx, n_tokens, digest) per
    chunk — the dedup-stable chunking fixed-size slicing can't give
    (an edit shifts every fixed boundary after it; CDC boundaries are
    content-anchored, so edits stay local and unchanged chunks keep their
    digests for storage-level dedup / incremental re-ingest).

    Scale: the whole operator is per-row array algebra — window hashes,
    breakpoint filter, bounds, per-chunk digests all build inside ONE
    projection; inline_outer() expands chunks map-side. ZERO exchanges;
    100 TB throughput is executors × scan rate, like llm_sentence_split.

    inline_OUTER, not inline: InferFiltersFromGenerate only fires for
    non-outer generates, and its inferred size(cs)>0 filter used to
    alias-substitute the ENTIRE chunk-building expression into a Filter,
    doubling per-row CPU (round-8 sweep, VERDICT r8 item 4). Every doc
    yields >=1 chunk (bd always has >=2 bounds), so outer semantics are
    row-for-row identical."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("arr"),
        F.size(F.split("text", " ")).alias("n"),
    )
    brks = F.expr(
        f"""CASE WHEN n >= 5 THEN
              filter(sequence(CAST(5 AS BIGINT), CAST(n AS BIGINT)), i ->
                CAST(conv(substring(md5(
                  array_join(slice(arr, CAST(i - 4 AS INT), 4), ' ')), 1, 4), 16, 10)
                  AS BIGINT) % {_CDC_MOD} = 0)
            ELSE CAST(array() AS ARRAY<BIGINT>) END"""
    )
    bounds = base.select(
        "doc_id",
        "arr",
        F.concat(
            F.array(F.lit(1).cast("bigint")),
            brks,
            F.array((F.col("n") + 1).cast("bigint")),
        ).alias("bd"),
    )
    chunks = bounds.select(
        "doc_id",
        F.expr(
            """transform(sequence(1, size(bd) - 1), c -> struct(
                 CAST(c AS INT) AS chunk_idx,
                 CAST(element_at(bd, c + 1) - element_at(bd, c) AS BIGINT) AS n_tokens,
                 md5(array_join(slice(arr, CAST(element_at(bd, c) AS INT),
                     CAST(element_at(bd, c + 1) - element_at(bd, c) AS INT)), ' '))
                   AS digest))"""
        ).alias("cs"),
    )
    return chunks.select("doc_id", F.expr("inline_outer(cs)"))


# --- llm_vocab_coverage: tokenizer-vocabulary OOV audit -----------------------

# "How much of the corpus does a K-entry vocabulary cover?" — the
# tokenizer-budget / OOV-rate audit run before committing to a vocab
# size. Vocab = the top-_VOCAB_K tokens by corpus frequency (count DESC,
# token ASC — total order, engine-identical); coverage = per-document
# token count and OOV count against it. The rate is an exact division of
# two BIGINTs — identical doubles in both engines.
_VOCAB_K = 500

_VOCAB_COVERAGE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ORDER BY c DESC, tok LIMIT {_VOCAB_K}
  )
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS oov_rate
FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id
"""


@register("llm_vocab_coverage", oracle=_VOCAB_COVERAGE_ORACLE, tags=("llm", "text"))
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit: build the top-500 corpus
    vocabulary, then score every document's token count, OOV count and
    OOV rate against it — the sizing study run before freezing a
    tokenizer budget (the fixed-vocab twin of llm_token_count).

    Scale shape: the vocab is ONE token hash-aggregate cut to K rows by
    TakeOrderedAndProject (no global sort), then BROADCAST — the exploded
    corpus stream left-joins it map-side, so token strings never cross an
    exchange; the only corpus shuffle is the (doc_id, counts) per-doc
    aggregate. K is a constant — at 100 TB the vocab build is the usual
    two-phase partial/final aggregate and the probe side stays
    embarrassingly parallel."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


# --- llm_rouge_n: ROUGE-2 recall on a bounded evaluation panel ----------------

# The summarization/overlap eval metric: ROUGE-2 recall = |distinct
# bigrams(ref) ∩ distinct bigrams(cand)| / |distinct bigrams(ref)|.
# Panel: 10 reference docs × 50 candidates — the bounded eval-panel
# discipline of llm_decontaminate/llm_dedup_audit (metrics are computed
# against a FIXED panel, so cost never scales with corpus²). Pairs with
# zero overlap carry no row (inner join on the shared bigram) — recall 0
# is the absence of a row in both engines.
_ROUGE_REFS = 10
_ROUGE_CANDS = 60  # doc_id in [10, 60)

_ROUGE_ORACLE = f"""
WITH rb AS (
  SELECT DISTINCT doc_id AS ref_id, unnest({shingles_duckdb("string_split(text, ' ')", 2)}) AS bg
  FROM documents WHERE doc_id < {_ROUGE_REFS}
),
cb AS (
  SELECT DISTINCT doc_id AS cand_id, unnest({shingles_duckdb("string_split(text, ' ')", 2)}) AS bg
  FROM documents WHERE doc_id >= {_ROUGE_REFS} AND doc_id < {_ROUGE_CANDS}
),
rt AS (SELECT ref_id, CAST(COUNT(*) AS BIGINT) AS n_ref FROM rb GROUP BY ref_id),
ov AS (
  SELECT rb.ref_id, cb.cand_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM rb JOIN cb ON cb.bg = rb.bg
  GROUP BY rb.ref_id, cb.cand_id
)
SELECT ov.ref_id, ov.cand_id, ov.n_overlap, rt.n_ref AS n_ref_bigrams,
       CAST(ov.n_overlap AS DOUBLE) / rt.n_ref AS rouge2_recall
FROM ov JOIN rt ON rt.ref_id = ov.ref_id
"""


@register("llm_rouge_n", oracle=_ROUGE_ORACLE, tags=("llm", "text"))
def llm_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 recall between a 10-doc reference panel and 50 candidate
    documents: distinct-bigram overlap over distinct reference bigrams —
    the n-gram eval metric (summarization quality, paraphrase detection)
    computed as set algebra instead of per-pair string scans.

    Scale shape: both sides reduce to DISTINCT (doc, bigram) pairs BEFORE
    any join (hash aggregates); the reference side is panel-bounded (10
    docs), broadcasts, and the overlap join + (ref, cand) count is the
    usual partial/final aggregate. A full corpus scores against the fixed
    panel in one pass — cost is linear in candidate bigrams, never
    pairs × text. Integer counts, exact-division recall: value-hash
    portable."""
    docs = table(spark, sf_dir, "documents")
    bigrams = F.expr(shingles_spark("split(text, ' ')", 2))
    rb = (
        docs.filter(F.col("doc_id") < _ROUGE_REFS)
        .select(F.col("doc_id").alias("ref_id"), F.explode(bigrams).alias("bg"))
        .distinct()
    )
    cb = (
        docs.filter(
            (F.col("doc_id") >= _ROUGE_REFS) & (F.col("doc_id") < _ROUGE_CANDS)
        )
        .select(F.col("doc_id").alias("cand_id"), F.explode(bigrams).alias("bg"))
        .distinct()
    )
    rt = rb.groupBy("ref_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_ref"))
    ov = (
        cb.join(F.broadcast(rb), "bg")
        .groupBy("ref_id", "cand_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return ov.join(F.broadcast(rt), "ref_id").select(
        "ref_id",
        "cand_id",
        "n_overlap",
        F.col("n_ref").alias("n_ref_bigrams"),
        (F.col("n_overlap").cast("double") / F.col("n_ref")).alias("rouge2_recall"),
    )


# --- llm_span_mask: deterministic span corruption (denoising objective) ------

# T5/BART-style span corruption as a DATA-PIPELINE step: group tokens
# into 3-token spans, mask ~20% of spans (selected by md5(doc_id:span) —
# deterministic, engine-portable, uniform), emit the corrupted text
# digest and the target (masked-out tokens) digest. Everything is one
# per-row projection over the token array — ZERO exchanges; the digests
# keep full texts out of the comparator while pinning every masked
# position.
_SPAN_LEN = 3
_SPAN_MOD = 5  # mask spans hashing to 0 (mod 5) ≈ 20%

_SPAN_MASK_ORACLE = f"""
WITH base AS ({_TOKEN_ARRAY_DUCK}),
m AS (
  SELECT doc_id, n,
         list_transform(range(1, n + 1), i ->
           CASE WHEN CAST(('0x' || substring(md5(
                  doc_id::VARCHAR || ':' || ((i - 1) // {_SPAN_LEN})::VARCHAR),
                  1, 4)) AS BIGINT) % {_SPAN_MOD} = 0
                THEN NULL ELSE arr[i] END) AS kept,
         list_transform(range(1, n + 1), i ->
           CASE WHEN CAST(('0x' || substring(md5(
                  doc_id::VARCHAR || ':' || ((i - 1) // {_SPAN_LEN})::VARCHAR),
                  1, 4)) AS BIGINT) % {_SPAN_MOD} = 0
                THEN arr[i] ELSE NULL END) AS dropped
  FROM base
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(len(list_filter(dropped, x -> x IS NOT NULL)) AS BIGINT) AS n_masked,
       md5(array_to_string(list_transform(kept,
           x -> COALESCE(x, '<X>')), ' ')) AS masked_digest,
       md5(COALESCE(
         array_to_string(list_filter(dropped, x -> x IS NOT NULL), ' '), ''))
         AS target_digest
FROM m
"""


@register("llm_span_mask", oracle=_SPAN_MASK_ORACLE, tags=("llm", "text"))
def llm_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic span corruption for denoising pretraining: 3-token
    spans, ~20% masked (md5(doc_id:span) selection — reproducible on any
    cluster layout), emitting per doc the token/masked counts plus
    digests of the corrupted text and of the mask targets.

    Scale shape: the span selector, both projections and both digests
    build inside ONE per-row Catalyst projection — ZERO exchanges, zero
    Python; 100 TB cost is scan rate × executors, and the (doc_id, span)
    hash seed means re-runs and retries mask identical positions (the
    llm_dataset_split determinism discipline)."""
    docs = table(spark, sf_dir, "documents")
    mask_cond = (
        f"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        f"CAST((i - 1) div {_SPAN_LEN} AS STRING))), 1, 4), 16, 10) AS BIGINT) "
        f"% {_SPAN_MOD} = 0"
    )
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("arr"),
        F.size(F.split("text", " ")).alias("n"),
    )
    m = base.select(
        "doc_id",
        "n",
        F.expr(
            f"transform(sequence(1, n), i -> CASE WHEN {mask_cond} "
            f"THEN NULL ELSE element_at(arr, i) END)"
        ).alias("kept"),
        F.expr(
            f"transform(sequence(1, n), i -> CASE WHEN {mask_cond} "
            f"THEN element_at(arr, i) ELSE NULL END)"
        ).alias("dropped"),
    )
    return m.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.expr("size(filter(dropped, x -> x IS NOT NULL))")
        .cast("bigint")
        .alias("n_masked"),
        F.md5(
            F.expr("array_join(transform(kept, x -> coalesce(x, '<X>')), ' ')")
        ).alias("masked_digest"),
        F.md5(F.expr("array_join(filter(dropped, x -> x IS NOT NULL), ' ')")).alias(
            "target_digest"
        ),
    )


# --- llm_sample_weighted: weighted sampling without replacement ---------------

# Quality-weighted corpus resampling — the Efraimidis–Spirakis exp-keys
# scheme, THE distributed algorithm for weighted sampling without
# replacement (each row gets key u^(1/w); the top-N keys ARE the sample):
# no sequential pass, no rejection loop, just a per-row key and a top-N.
# Determinism + portability: u derives from md5(doc_id) (40 hash bits →
# u ∈ (0, 1]), the key is ln(u) FLOOR-quantized to micro-units (BIGINT),
# and weights are integers in {1..5} dividing 60 — so ranking uses
# t × (60 / w), an EXACT integer, and ordering by it equals ordering by
# u^(1/w). Ties (astronomically unlikely) break by doc_id.
_SAMPLE_PER_SOURCE = 20
_ES_DENOM = 1099511627776.0  # 2^40

_SAMPLE_WEIGHTED_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         least(5, 1 + n_chars // 400) AS w,
         CAST(floor(1000000.0 * ln(
           (CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 10)) AS BIGINT) + 1)
           / {_ES_DENOM})) AS BIGINT) AS t
  FROM documents
),
keyed AS (
  SELECT doc_id, source, w, t * (60 // w) AS es_key FROM base
)
SELECT source, CAST(rnk AS INT) AS rank, doc_id, CAST(w AS BIGINT) AS w, es_key
FROM (
  SELECT source, doc_id, w, es_key,
         row_number() OVER (PARTITION BY source
                            ORDER BY es_key DESC, doc_id) AS rnk
  FROM keyed
) WHERE rnk <= {_SAMPLE_PER_SOURCE}
"""


@register("llm_sample_weighted", oracle=_SAMPLE_WEIGHTED_ORACLE, tags=("llm", "text"))
def llm_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, stratified per source:
    Efraimidis–Spirakis exponential keys (key = u^(1/w), take the top 20
    per stratum) with length-derived quality weights — the
    quality-upweighted corpus resample behind data-mixing recipes, as a
    single distributed pass.

    Scale shape: the key is per-row hash arithmetic (map-side, no state);
    the per-stratum top-N is a rank window on (source) — with bounded
    strata this is the partial top-N pattern (at 100 TB swap the window
    for a per-partition heap + final merge, same keys, same result — the
    keys make the sample PLAN-INDEPENDENT, which is the whole point of
    exp-keys sampling). Quantized-ln integer ranking (see module comment)
    keeps the selection engine-exact; the sampled frame is ≤ 20 ×
    |sources| rows."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.expr("least(5, 1 + n_chars div 400)").alias("w"),
        F.floor(
            1000000.0
            * F.log(
                (
                    F.expr(
                        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 10), "
                        "16, 10) AS BIGINT)"
                    )
                    + F.lit(1)
                )
                / F.lit(_ES_DENOM)
            )
        )
        .cast("bigint")
        .alias("t"),
    )
    keyed = base.select(
        "doc_id", "source", "w", (F.col("t") * F.expr("60 div w")).alias("es_key")
    )
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SAMPLE_PER_SOURCE)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rank"),
            "doc_id",
            F.col("w").cast("bigint").alias("w"),
            "es_key",
        )
    )


# --- llm_tok_fertility: tokenizer fertility audit ------------------------------

# Tokenizer FERTILITY — subword tokens per whitespace word — is the
# metric that decides whether a tokenizer suits a corpus slice: fertility
# near 1 means words survive whole, high fertility means the tokenizer
# shreds this language/source (training cost up, effective context
# down). Audited per (source, lang) cell with the SAME portable BPE-ish
# lexer as llm_token_count (_TOKEN_RE: letter runs / digit runs /
# symbols — Java regex and RE2 agree on the literal classes). BIGINT
# sums; the two ratios divide identical operands in both engines.
_TOK_FERTILITY_ORACLE = f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words,
       CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS subwords,
       CAST(SUM(length(text)) AS BIGINT) AS chars,
       CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS DOUBLE)
         / SUM(len(string_split(text, ' '))) AS fertility,
       CAST(SUM(length(text)) AS DOUBLE)
         / SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS chars_per_subword
FROM documents
GROUP BY source, lang
"""


@register("llm_tok_fertility", oracle=_TOK_FERTILITY_ORACLE, tags=("llm", "text"))
def llm_tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per (source, lang): subword-per-word and
    chars-per-subword ratios under the portable BPE-ish lexer — the
    which-tokenizer-fits-this-corpus study (llm_token_count gives the
    per-document counts; this is the corpus-cell rollup that the vocab /
    budget decision actually reads).

    Scale shape: both token counts are per-row regexp/split expressions
    inside ONE codegen projection (zero Python); the rollup is a single
    partial/final hash aggregate on a domain-bounded key (sources ×
    langs) — exchanges carry one small row per cell per map task. 100 TB
    cost is scan rate; the regex never leaves the executor."""
    docs = table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("w"),
        F.size(F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)"))
        .cast("bigint")
        .alias("sw"),
        F.length("text").cast("bigint").alias("ch"),
    )
    return per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("words"),
        F.sum("sw").cast("bigint").alias("subwords"),
        F.sum("ch").cast("bigint").alias("chars"),
        (F.sum("sw").cast("double") / F.sum("w")).alias("fertility"),
        (F.sum("ch").cast("double") / F.sum("sw")).alias("chars_per_subword"),
    )


# --- llm_sft_format: instruction-tuning example rendering ----------------------

# The SFT data-prep step: split each document into (prompt, completion)
# at a fixed token boundary and render the chat template the trainer
# consumes — with the template literals, role markers and newlines
# pinned by digest (a one-character template drift silently ruins a
# fine-tune; the digest makes it a hash mismatch instead). Everything is
# per-row array/string algebra in ONE codegen projection: zero
# exchanges, zero Python. Documents too short to split (≤ prompt length)
# are excluded — an SFT pair needs a non-empty completion.
_SFT_PROMPT_TOKENS = 16
_SFT_SYSTEM = "You are a helpful assistant."

_SFT_FORMAT_ORACLE = f"""
WITH base AS ({_TOKEN_ARRAY_DUCK}),
split_doc AS (
  SELECT doc_id, n,
         array_to_string(list_slice(arr, 1, {_SFT_PROMPT_TOKENS}), ' ') AS prompt,
         array_to_string(list_slice(arr, {_SFT_PROMPT_TOKENS} + 1, n), ' ')
           AS completion
  FROM base WHERE n > {_SFT_PROMPT_TOKENS}
)
SELECT doc_id,
       CAST({_SFT_PROMPT_TOKENS} AS BIGINT) AS n_prompt_tokens,
       CAST(n - {_SFT_PROMPT_TOKENS} AS BIGINT) AS n_completion_tokens,
       CAST(length('<|system|>' || chr(10) || '{_SFT_SYSTEM}' || chr(10)
            || '<|user|>' || chr(10) || prompt || chr(10)
            || '<|assistant|>' || chr(10) || completion || '<|end|>') AS BIGINT)
         AS n_chars,
       md5('<|system|>' || chr(10) || '{_SFT_SYSTEM}' || chr(10)
           || '<|user|>' || chr(10) || prompt || chr(10)
           || '<|assistant|>' || chr(10) || completion || '<|end|>')
         AS rendered_digest
FROM split_doc
"""


@register("llm_sft_format", oracle=_SFT_FORMAT_ORACLE, tags=("llm", "text"))
def llm_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning example rendering: split each document into a
    16-token prompt + remainder completion and render the chat template
    (system/user/assistant role markers), emitting token counts, rendered
    length and the template digest — the SFT-format step of a
    fine-tuning data pipeline, with the template pinned byte-for-byte.

    Scale shape: split, slice, join and the digest build inside ONE
    per-row Catalyst projection — ZERO exchanges, zero Python; the
    filter (documents long enough to yield a completion) is a row-local
    predicate. 100 TB cost is scan rate × executors; the rendered text
    itself never needs to leave the executor — downstream writers
    consume it in place, comparators consume the digest."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("arr"),
        F.size(F.split("text", " ")).alias("n"),
    ).filter(F.col("n") > _SFT_PROMPT_TOKENS)
    prompt = F.expr(f"array_join(slice(arr, 1, {_SFT_PROMPT_TOKENS}), ' ')")
    completion = F.expr(
        f"array_join(slice(arr, {_SFT_PROMPT_TOKENS} + 1, n - {_SFT_PROMPT_TOKENS}), ' ')"
    )
    rendered = F.concat(
        F.lit("<|system|>\n" + _SFT_SYSTEM + "\n<|user|>\n"),
        prompt,
        F.lit("\n<|assistant|>\n"),
        completion,
        F.lit("<|end|>"),
    )
    return base.select(
        "doc_id",
        F.lit(_SFT_PROMPT_TOKENS).cast("bigint").alias("n_prompt_tokens"),
        (F.col("n") - _SFT_PROMPT_TOKENS).cast("bigint").alias("n_completion_tokens"),
        F.length(rendered).cast("bigint").alias("n_chars"),
        F.md5(rendered).alias("rendered_digest"),
    )


# --- llm_char_entropy: character-entropy gibberish filter -----------------------

# The Gopher/C4-family quality rule llm_quality_score doesn't cover:
# CHARACTER-level Shannon entropy. Keyboard mash, base64 blobs and
# single-char floods have abnormal char entropy, invisible to word-level
# stats. Counts come from the length-minus-replace identity over a FIXED
# literal alphabet (a-z, 0-9, space + an everything-else bucket), so the
# whole operator is ONE per-row projection — no explode, no shuffle. The
# entropy sum is an EXPLICIT left-to-right chain over the literal
# alphabet order (the Python generator emits the same term order into
# both engines), so the doubles agree bit-for-bit.
_ENTROPY_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [
    str(d) for d in range(10)
] + [" "]


def _char_entropy_sql(text: str, length: str) -> str:
    """-Σ p·ln(p) as an explicit term chain; p from length-replace counts.
    Identical SQL text works in Spark and DuckDB (both have length/replace/ln)."""
    cnts = [
        f"(length({text}) - length(replace({text}, '{c}', '')))"
        for c in _ENTROPY_ALPHABET
    ]
    other = f"({length} - ({' + '.join(cnts)}))"
    terms = [
        f"(CASE WHEN {c} > 0 THEN -((CAST({c} AS DOUBLE) / {length}) * "
        f"ln(CAST({c} AS DOUBLE) / {length})) ELSE 0.0 END)"
        for c in [*cnts, other]
    ]
    return " + ".join(terms)


_CHAR_ENTROPY_ORACLE = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       ROUND({_char_entropy_sql('text', 'length(text)')}, 9) AS char_entropy,
       CAST(CASE WHEN ROUND({_char_entropy_sql('text', 'length(text)')}, 9) < 2.0
                 THEN 1 ELSE 0 END AS INT) AS low_entropy
FROM documents
WHERE length(text) > 0
"""


@register("llm_char_entropy", oracle=_CHAR_ENTROPY_ORACLE, tags=("llm", "text", "quality"))
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document plus the low-entropy
    flag — the gibberish/flood filter (mashed keys, base64, repeated
    fills) that word-level quality stats miss.

    Scale shape: per-alphabet-char counts via the length-minus-replace
    identity over a FIXED 37-char alphabet + other-bucket, the entropy a
    literal left-to-right term chain — everything folds into ONE codegen
    projection: zero exchanges, zero explode, zero Python. 100 TB cost is
    scan rate; the chain order is pinned by the shared SQL generator, so
    the double is bit-identical in both engines."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # ROUND(…, 9): ln() is libm-class — JVM and C differ in the last ulp
    # on some operands (same convention as the trig functions, f_trig)
    ent = f'ROUND({_char_entropy_sql("text", "length(text)")}, 9)'
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.expr(ent).alias("char_entropy"),
        F.expr(f"CAST(CASE WHEN {ent} < 2.0 THEN 1 ELSE 0 END AS INT)").alias(
            "low_entropy"
        ),
    )


# --- llm_dataset_interleave: deterministic mixing schedule ----------------------

# Training consumes sources in a MIXING SCHEDULE, not in storage order: a
# run that reads all of source A then all of source B drifts; the
# schedule must interleave each source evenly across the epoch. The
# classic deterministic recipe: within a source, docs take ranks 1..n;
# the global sort key is the rational (2·rank − 1) / (2·n_source) — doc
# k of a source sits at the k-th (2k−1)/2n quantile of the epoch, so
# every source spreads uniformly regardless of size (the round-robin
# generalization to unequal sizes). The key is emitted as an integer
# (× 10^9, identical div both engines); materializing the total order
# is the CONSUMER's range-partitioned sort — emitting the key instead of
# a row_number()-over-() keeps the operator shuffle-bounded (a global
# row_number would serialize the corpus through ONE partition at 100 TB).
# Scale bound: (2n−1)·10^9 must fit int64 → safe to ~4.6e9 rows per
# source (≈ 100 TB of 4 KB docs in ONE stratum); past SCALE rows/source
# the keys merely coarsen into ties (broken by source, doc_id) — a
# graceful degradation, never an overflow (a 10^12 scale would instead
# hard-overflow at 4.6e6 rows/source — far below real corpora).
_INTERLEAVE_SCALE = 1_000_000_000

_INTERLEAVE_ORACLE = f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
)
SELECT CAST((2 * rnk - 1) * {_INTERLEAVE_SCALE} // (2 * n_src) AS BIGINT)
         AS schedule_key,
       source, doc_id, CAST(rnk AS BIGINT) AS rank_in_source,
       CAST(n_src AS BIGINT) AS n_in_source
FROM ranked
"""


@register("llm_dataset_interleave", oracle=_INTERLEAVE_ORACLE, tags=("llm", "text"))
def llm_dataset_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset-mixing schedule: each document's epoch
    position key (2k−1)/2n quantile of its source, emitted as a BIGINT —
    sorting by (schedule_key, source, doc_id) yields an epoch order in
    which every source is spread uniformly, whatever its size.

    Scale shape: ONE exchange on source serves the rank window and the
    per-source count (same partition spec — one sort, stacked windows);
    the key is a row-local integer expression. Deliberately NOT a global
    row_number: the total order is the consumer's range-partitioned sort
    (TakeOrdered/write-sorted), because a row_number() over () funnels
    the corpus through a single partition — the exact shape this
    operator exists to avoid."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    wc = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n_src"),
    )
    return ranked.select(
        F.expr(f"(2 * rnk - 1) * {_INTERLEAVE_SCALE}L div (2 * n_src)").alias(
            "schedule_key"
        ),
        "source",
        "doc_id",
        F.col("rnk").alias("rank_in_source"),
        F.col("n_src").alias("n_in_source"),
    )


# --- llm_winsorize: robust clipping transform ------------------------------------

# dq_outlier_iqr COUNTS tail values; this CLEANS them — winsorization
# clamps each document's length signal into its source's [p05, p95] band,
# the standard robust preprocessing before length-based mixing weights or
# curriculum scores (a single 100 MB page otherwise dominates any
# mean-based recipe). Same exact-percentile recipe as dq_outlier_iqr
# (percentile()/quantile_cont agree bit-for-bit on these inputs; swap
# approx_percentile at 100 TB), fences broadcast back onto the stream,
# clamp is a row-local greatest/least. Fences are FLOOR-quantized to
# BIGINT so the clamped value — and therefore every downstream sum — is
# integer-exact.
_WINSOR_ORACLE = """
WITH fences AS (
  SELECT source,
         CAST(floor(quantile_cont(n_chars, 0.05)) AS BIGINT) AS lo,
         CAST(floor(quantile_cont(n_chars, 0.95)) AS BIGINT) AS hi
  FROM documents GROUP BY source
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MAX(f.lo) AS fence_lo,
       MAX(f.hi) AS fence_hi,
       CAST(SUM(CASE WHEN d.n_chars < f.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_lo,
       CAST(SUM(CASE WHEN d.n_chars > f.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_hi,
       CAST(SUM(greatest(f.lo, least(f.hi, d.n_chars))) AS BIGINT)
         AS winsorized_sum,
       CAST(SUM(d.n_chars) AS BIGINT) AS raw_sum
FROM documents d JOIN fences f ON f.source = d.source
GROUP BY d.source
"""


@register("llm_winsorize", oracle=_WINSOR_ORACLE, tags=("llm", "text", "quality"))
def llm_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit per source: clamp document lengths into the
    exact [p05, p95] band and report clipped counts plus the winsorized
    vs raw sums — the robust-preprocessing step that stops tail documents
    from dominating length-based mixing weights.

    Scale shape: one pass computes the per-source percentiles (bounded
    output — |sources| rows; the exact percentile is the test-scale
    oracle-checkable choice, approx_percentile is the drop-in at 100 TB),
    the fence table BROADCASTS onto the re-scan, and the clamp is
    greatest/least in codegen. FLOOR-quantized BIGINT fences keep every
    sum integer-exact; two corpus scans total (percentile pass + clamp
    pass), no corpus-sized shuffle beyond the per-source rollup."""
    docs = table(spark, sf_dir, "documents")
    fences = docs.groupBy("source").agg(
        F.floor(F.expr("percentile(n_chars, 0.05D)")).cast("bigint").alias("lo"),
        F.floor(F.expr("percentile(n_chars, 0.95D)")).cast("bigint").alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("n_chars")))
    return (
        docs.join(F.broadcast(fences), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("lo").alias("fence_lo"),
            F.max("hi").alias("fence_hi"),
            F.sum(F.when(F.col("n_chars") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("n_chars") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_hi"),
            F.sum(clamped).cast("bigint").alias("winsorized_sum"),
            F.sum("n_chars").cast("bigint").alias("raw_sum"),
        )
    )


# --- llm_markup_strip: markdown/HTML boilerplate removal ---------------------

# Web-corpus cleaning step the reference never needs (its payloads are
# JSON): strip markdown structure — ATX headers, bold markers, inline
# links — down to plain text, reporting per-document removed-byte counts
# and a digest of the cleaned text. The fixtures carry no markup, so a
# marked-up variant is synthesized DETERMINISTICALLY from (source, text,
# doc_id) in BOTH engines first (the llm_dataset_diff recipe) — the strip
# chain is then exercised against known-true expected removals. Regex
# dialects differ only in backreference spelling (Java ``$1`` vs RE2
# ``\1``) and DuckDB's per-call 'g' flag; patterns themselves are shared.
_MARKUP_ORACLE = r"""
WITH marked AS (
  SELECT doc_id,
         '# ' || source || chr(10) || '**' || substr(text, 1, 40) || '** '
           || text || ' [link](http://' || source || '.example.com/'
           || doc_id || ')' AS m
  FROM documents
),
cleaned AS (
  SELECT doc_id, m,
         regexp_replace(
           regexp_replace(
             regexp_replace(m, '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
             '\*\*', '', 'g'),
           '^# [^\n]*\n', '') AS c
  FROM marked
)
SELECT doc_id,
       CAST(length(m) AS BIGINT) AS n_marked,
       CAST(length(c) AS BIGINT) AS n_clean,
       CAST(length(m) - length(c) AS BIGINT) AS n_removed,
       substr(md5(c), 1, 16) AS clean_sig
FROM cleaned
"""


@register("llm_markup_strip", oracle=_MARKUP_ORACLE, tags=("llm", "text"))
def llm_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown/boilerplate stripping for web-corpus cleaning: remove ATX
    header lines, ``**bold**`` markers, and ``[text](url)`` links (keeping
    the anchor text), reporting removed-byte counts and a cleaned-text
    digest per document. The markup is synthesized deterministically from
    (source, text, doc_id) so the strip chain is verified against
    known-true removals on a markup-free fixture.

    Scale shape: the whole synthesize→strip→measure chain is ONE codegen
    projection per row — zero exchanges, zero Python, no UDF (Java regex
    in whole-stage codegen); 100 TB of pages cost exactly one scan and
    the cleaned text never crosses an exchange (only its digest and two
    BIGINT lengths leave the projection)."""
    docs = table(spark, sf_dir, "documents")
    marked = F.concat(
        F.lit("# "), F.col("source"), F.lit("\n"),
        F.lit("**"), F.expr("substr(text, 1, 40)"), F.lit("** "),
        F.col("text"),
        F.lit(" [link](http://"), F.col("source"), F.lit(".example.com/"),
        F.col("doc_id").cast("string"), F.lit(")"),
    )
    m = docs.select("doc_id", marked.alias("m"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("m"), r"\[([^\]]*)\]\(([^)]*)\)", "$1"
            ),
            r"\*\*", "",
        ),
        r"^# [^\n]*\n", "",
    )
    return m.select(
        "doc_id",
        F.length("m").cast("bigint").alias("n_marked"),
        F.length(clean).cast("bigint").alias("n_clean"),
        (F.length("m") - F.length(clean)).cast("bigint").alias("n_removed"),
        F.substring(F.md5(clean), 1, 16).alias("clean_sig"),
    )


# --- llm_url_extract: link/domain extraction for web-corpus analysis ---------

# The link-graph precursor: pull every URL out of each document, reduce it
# to (scheme, domain), and aggregate per-domain link and document counts —
# the table crawl-frontier prioritization and spam-domain blocklists are
# built from. URLs are synthesized deterministically from (source, lang,
# doc_id) — one per doc plus a conditional CDN link — so extraction counts
# are known-true on the word-soup fixture. The regex captures scheme +
# registrable domain only; paths never leave the projection.
_URL_ORACLE = r"""
WITH enriched AS (
  SELECT doc_id,
         text || ' http://' || source || '.example.com/p/' || doc_id
           || CASE WHEN doc_id % 3 = 0
                   THEN ' https://cdn-' || lang || '.example.org/a/'
                        || (doc_id % 7)
                   ELSE '' END AS t
  FROM documents
),
links AS (
  SELECT doc_id,
         unnest(regexp_extract_all(t, 'https?://[a-z0-9.-]+')) AS url
  FROM enriched
)
SELECT regexp_replace(url, '^https?://', '') AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_https,
       CAST(SUM(CASE WHEN url LIKE 'http://%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_http
FROM links
GROUP BY regexp_replace(url, '^https?://', '')
"""


@register("llm_url_extract", oracle=_URL_ORACLE, tags=("llm", "text"))
def llm_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain extraction over the corpus: regexp-extract every link,
    reduce to its domain, and aggregate per-domain link counts, document
    reach, and scheme split — the precursor table for crawl-frontier
    ranking and spam-domain blocklists. Links are synthesized
    deterministically from (source, lang, doc_id) so the expected counts
    are known-true on the link-free fixture.

    Scale shape: extraction is a codegen regexp_extract_all + generator
    explode (no Python); each row fans out to its ≤2 (domain, flags)
    pairs MAP-SIDE, and the only exchange is the partial/final hash
    aggregate on the bounded domain key — document text never shuffles,
    and COUNT(DISTINCT doc_id) rides the same aggregate (Expand over the
    already-tiny domain grain, not the corpus)."""
    docs = table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" http://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" https://cdn-"), F.col("lang"),
                    F.lit(".example.org/a/"),
                    (F.col("doc_id") % 7).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    links = enriched.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(t, 'https?://[a-z0-9.-]+', 0)")
        ).alias("url"),
    )
    return (
        links.select(
            "doc_id",
            F.regexp_replace("url", "^https?://", "").alias("domain"),
            F.col("url").startswith("https://").cast("int").alias("is_https"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("is_https").cast("bigint").alias("n_https"),
            F.sum(1 - F.col("is_https")).cast("bigint").alias("n_http"),
        )
    )


# --- llm_char_bigram_entropy: conditional character entropy per source -------

# The gibberish detector one level up from llm_char_entropy's per-document
# unigram H: corpus-level bigram entropy H(c1,c2) and the conditional
# H(c2|c1) = H(c1,c2) − H(c1) per source. Natural text has LOW conditional
# entropy (characters are predictable from their predecessor); random
# flood/binary-in-text has cond-H ≈ unigram H. The unigram marginal is
# derived FROM the bigram cell table (first-char marginal) plus a
# last-char correction aggregate, so the corpus-sized explode happens
# once. Entropy terms use the agg_entropy fixed-point recipe: each
# per-cell term FLOOR-quantized to integer micro-nats before the
# order-free sum; ln() sees identical doubles (ratios of exact BIGINTs)
# in both engines.
_BIGRAM_ENT_ORACLE = """
WITH bg AS (
  SELECT d.source, substr(d.text, t.j, 2) AS gram
  FROM documents d, unnest(range(1, length(d.text))) AS t(j)
  WHERE length(d.text) >= 2
),
cells2 AS (
  SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bg GROUP BY source, gram
),
last_char AS (
  SELECT source, substr(text, length(text), 1) AS c,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents WHERE length(text) >= 2 GROUP BY source, substr(text, length(text), 1)
),
cells1 AS (
  SELECT source, c, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
    SELECT source, substr(gram, 1, 1) AS c, cnt FROM cells2
    UNION ALL
    SELECT source, c, cnt FROM last_char
  ) GROUP BY source, c
),
terms2 AS (
  SELECT source, cnt,
         CAST(floor(
           -(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE))
            * ln(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE))
            * 1000000.0) AS BIGINT) AS t
  FROM cells2
),
terms1 AS (
  SELECT source, cnt,
         CAST(floor(
           -(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE))
            * ln(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE))
            * 1000000.0) AS BIGINT) AS t
  FROM cells1
),
h2 AS (
  SELECT source, SUM(cnt) AS total2, SUM(t) AS h2_micro FROM terms2 GROUP BY source
),
h1 AS (
  SELECT source, SUM(cnt) AS total1, SUM(t) AS h1_micro FROM terms1 GROUP BY source
)
SELECT h1.source,
       CAST(h1.total1 AS BIGINT) AS n_chars,
       CAST(h2.total2 AS BIGINT) AS n_bigrams,
       CAST(h1.h1_micro AS DOUBLE) / 1000000.0 AS h1_nats,
       CAST(h2.h2_micro AS DOUBLE) / 1000000.0 AS h2_nats,
       CAST(h2.h2_micro - h1.h1_micro AS DOUBLE) / 1000000.0 AS cond_h_nats
FROM h1 JOIN h2 ON h1.source = h2.source
"""


@register(
    "llm_char_bigram_entropy", oracle=_BIGRAM_ENT_ORACLE, tags=("llm", "text")
)
def llm_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional character entropy H(c2|c1) = H(bigram) − H(unigram) per
    source — the corpus-level gibberish/flood detector: natural text is
    predictable from its previous character (low cond-H), random floods
    are not (cond-H ≈ unigram H).

    Scale shape: the corpus-sized work is ONE generator explode into the
    map-side-combined (source, bigram) aggregate — the cell table is
    bounded by sources × alphabet² whatever the input size. The unigram
    marginal is DERIVED from that cell table (first-char sums) plus a
    plain-scan last-char correction, so no second explode exists. Entropy
    terms are FLOOR-quantized micro-nats (order-free partials, ln() on
    identical exact-ratio doubles in both engines — the agg_entropy
    recipe)."""
    # one-row-group fixture scans are 1 task; spread before the heavy
    # per-row map work (profiled single-task stage; see OPTIMIZATION_r10.md)
    docs = rebalance_for_map(
        table(spark, sf_dir, "documents")
        .select("source", "text")
        .filter(F.length("text") >= 2),
        spark,
    )
    bg = docs.select(
        "source",
        F.expr("explode(sequence(1, length(text) - 1))").alias("j"),
        "text",
    ).select("source", F.expr("substr(text, j, 2)").alias("gram"))
    # Persisted: the bounded (source, bigram) cell table feeds BOTH the
    # H2 entropy branch and the derived unigram marginal — without the
    # persist, Spark re-runs the corpus-sized explode per branch.
    cells2 = scoped_persist(
        bg.groupBy("source", "gram").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
    )
    last_char = docs.groupBy(
        "source", F.expr("substr(text, length(text), 1)").alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cells1 = (
        cells2.select("source", F.expr("substr(gram, 1, 1)").alias("c"), "cnt")
        .unionAll(last_char)
        .groupBy("source", "c")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )

    def ent(cells: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy("source")
        p = F.col("cnt").cast("double") / F.sum("cnt").over(w).cast("double")
        term = F.floor(-p * F.log(p) * F.lit(1000000.0)).cast("bigint")
        return (
            cells.select("source", "cnt", term.alias("t"))
            .groupBy("source")
            .agg(
                F.sum("cnt").cast("bigint").alias(f"total_{out}"),
                F.sum("t").cast("bigint").alias(f"{out}_micro"),
            )
        )

    h2 = ent(cells2, "h2")
    h1 = ent(cells1, "h1")
    return h1.join(h2, "source").select(
        "source",
        F.col("total_h1").alias("n_chars"),
        F.col("total_h2").alias("n_bigrams"),
        (F.col("h1_micro").cast("double") / 1e6).alias("h1_nats"),
        (F.col("h2_micro").cast("double") / 1e6).alias("h2_nats"),
        ((F.col("h2_micro") - F.col("h1_micro")).cast("double") / 1e6).alias(
            "cond_h_nats"
        ),
    )


# --- llm_token_budget: largest-remainder budget allocation --------------------

# The mixing-recipe step after llm_domain_mix decides proportions: given a
# FIXED total token budget, allocate an integer per-source quota
# proportional to source weight such that quotas sum to EXACTLY the
# budget (floor everything, then hand the leftover +1s to the largest
# remainders — Hamilton's method). Everything is BIGINT: quota = (B·w)
# div W and remainder = B·w − quota·W are exact in both engines; the
# only windows run on the |sources|-row weight table (domain-bounded at
# any corpus size, so its single-partition exchange is a constant, not a
# funnel). Overflow: B·w ≤ 1e6 · total_chars — int64-safe until the
# corpus holds ~9e12 chars per source (three decades past sf100).
_TOKEN_BUDGET = 1_000_000

_TOKEN_BUDGET_ORACLE = f"""
WITH w AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
  FROM documents GROUP BY source
),
q AS (
  SELECT source, weight,
         CAST(SUM(weight) OVER () AS BIGINT) AS total_w,
         ({_TOKEN_BUDGET} * weight) // CAST(SUM(weight) OVER () AS BIGINT)
           AS floor_quota,
         {_TOKEN_BUDGET} * weight
           - (({_TOKEN_BUDGET} * weight) // CAST(SUM(weight) OVER () AS BIGINT))
             * CAST(SUM(weight) OVER () AS BIGINT) AS rem
  FROM w
),
r AS (
  SELECT source, weight, floor_quota, rem,
         CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS BIGINT)
           AS rnk,
         CAST({_TOKEN_BUDGET} - SUM(floor_quota) OVER () AS BIGINT)
           AS leftover
  FROM q
)
SELECT source, weight, floor_quota, rem, rnk,
       CASE WHEN rnk <= leftover THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS extra,
       floor_quota + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
         AS final_quota
FROM r
"""


@register("llm_token_budget", oracle=_TOKEN_BUDGET_ORACLE, tags=("llm", "text"))
def llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) budget allocation: integer per-source
    token quotas proportional to corpus weight that sum to EXACTLY the
    1M-token budget — the step that turns llm_domain_mix's proportions
    into an executable sampling plan with no rounding drift.

    Scale shape: one map-side-combined corpus collapse to the
    |sources|-row weight table; the total/rank windows run on that
    domain-bounded table (its single-partition exchange is a constant-
    size plan node, not a data funnel). All arithmetic is BIGINT —
    quota = (B·w) div W and remainder are exact, so the Σquota == B
    invariant is checkable bit-for-bit in both engines."""
    docs = table(spark, sf_dir, "documents")
    B = F.lit(_TOKEN_BUDGET).cast("bigint")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("weight")
    )
    wall = Window.partitionBy()
    q = w.select(
        "source",
        "weight",
        F.sum("weight").over(wall).cast("bigint").alias("total_w"),
    ).select(
        "source",
        "weight",
        F.expr(f"({_TOKEN_BUDGET} * weight) div total_w").alias("floor_quota"),
        (
            B * F.col("weight")
            - F.expr(f"({_TOKEN_BUDGET} * weight) div total_w")
            * F.col("total_w")
        ).alias("rem"),
    )
    r = q.select(
        "source",
        "weight",
        "floor_quota",
        "rem",
        F.row_number()
        .over(wall.orderBy(F.col("rem").desc(), F.col("source").asc()))
        .cast("bigint")
        .alias("rnk"),
        (B - F.sum("floor_quota").over(wall)).cast("bigint").alias("leftover"),
    )
    extra = F.when(F.col("rnk") <= F.col("leftover"), F.lit(1)).otherwise(
        F.lit(0)
    ).cast("bigint")
    return r.select(
        "source",
        "weight",
        "floor_quota",
        "rem",
        "rnk",
        extra.alias("extra"),
        (F.col("floor_quota") + extra).alias("final_quota"),
    )


# --- llm_template_detect: boilerplate family discovery ------------------------

# The CCNet/RefinedWeb-style boilerplate sweep: documents sharing a
# head fingerprint are one template family (cookie banners, ToS blocks,
# forum headers) and get deduplicated or stripped as a GROUP, not
# per-document. The fixture carries no templates, so a known-true family
# is planted deterministically in BOTH engines (every doc_id % 5 == 0
# gets the same ToS header — the llm_markup_strip recipe); detection
# keys on the first-3-token fingerprint, so the planted family MUST
# surface and random word-soup collisions surface identically in both
# engines.
_TEMPLATE_ORACLE = """
WITH prepped AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0
              THEN 'TERMS OF SERVICE apply. ' || text ELSE text END AS t
  FROM documents
),
fp AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(string_split(t, ' '), 1, 3), ' '))
           AS family_fp,
         length(t) AS n_chars
  FROM prepped
)
SELECT family_fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM fp
GROUP BY family_fp
HAVING COUNT(*) >= 2
"""


@register("llm_template_detect", oracle=_TEMPLATE_ORACLE, tags=("llm", "text"))
def llm_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template family discovery: group documents by the
    md5 of their first three tokens and report families with ≥ 2 members
    (size, source spread, exemplar, bytes) — the sweep that finds cookie
    banners and ToS blocks so they can be stripped as a group. A
    known-true family is planted deterministically (every 5th doc gets
    the same header), so detection is verified against a planted truth,
    not just cross-engine agreement.

    Scale shape: fingerprinting is one codegen projection (split + slice
    + concat + md5 — text never leaves the map side); the only exchange
    is the partial/final aggregate on the 16-byte family key. At 100 TB
    the family table is bounded by distinct boilerplate heads, and the
    HAVING prunes singletons before any further processing."""
    docs = table(spark, sf_dir, "documents")
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("TERMS OF SERVICE apply. "), F.col("text")),
    ).otherwise(F.col("text"))
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.expr(
                "concat_ws(' ', slice(split("
                "CASE WHEN doc_id % 5 = 0 THEN 'TERMS OF SERVICE apply. ' || text"
                " ELSE text END, ' '), 1, 3))"
            )
        ).alias("family_fp"),
        F.length(t).alias("n_chars"),
    )
    return (
        fp.groupBy("family_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("exemplar_doc"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- llm_blocklist_filter: keyword-category safety gate -----------------------

# The seed safety filter every corpus pipeline runs before the expensive
# classifiers: a categorized keyword blocklist, per-document category hit
# counts, and a keep/flag/drop action. Categories use fixture vocabulary
# so hit counts are non-degenerate; the category → terms panel is a
# LITERAL in both engines (at 100 TB it's a broadcast dict — same plan).
_BLOCK_CATS = {
    "perf": ("slow", "error"),
    "spam": ("fast", "big"),
    "infra": ("spark", "stream"),
}
_FLAG_AT, _DROP_AT = 3, 8


def _hits_duck(cat: str) -> str:
    terms = ", ".join(f"'{t}'" for t in _BLOCK_CATS[cat])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), x -> x IN ({terms})))"
        f" AS BIGINT)"
    )


_BLOCKLIST_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
         {_hits_duck("perf")} AS perf_hits,
         {_hits_duck("spam")} AS spam_hits,
         {_hits_duck("infra")} AS infra_hits
  FROM documents
)
SELECT doc_id, source, perf_hits, spam_hits, infra_hits,
       perf_hits + spam_hits + infra_hits AS total_hits,
       CASE WHEN perf_hits + spam_hits + infra_hits >= {_DROP_AT} THEN 'drop'
            WHEN perf_hits + spam_hits + infra_hits >= {_FLAG_AT} THEN 'flag'
            ELSE 'keep' END AS action
FROM scored
"""


@register("llm_blocklist_filter", oracle=_BLOCKLIST_ORACLE, tags=("llm", "text"))
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorized keyword blocklist gate: per-document hit counts for
    each category plus a threshold keep/flag/drop action — the cheap
    always-on seed filter that runs before any learned safety classifier
    and routes documents to review queues.

    Scale shape: the entire scoring is ONE codegen projection (split +
    higher-order filter per category — counting multiplicity, which
    array_intersect would lose); zero exchanges, zero Python, text never
    leaves the map side. The category panel is a broadcast-sized literal;
    adding categories widens the projection, never adds a pass."""
    docs = table(spark, sf_dir, "documents")

    def hits(cat: str):
        terms = ", ".join(f"'{t}'" for t in _BLOCK_CATS[cat])
        return F.expr(
            f"CAST(size(filter(split(text, ' '), x -> x IN ({terms}))) AS BIGINT)"
        )

    scored = docs.select(
        "doc_id",
        "source",
        hits("perf").alias("perf_hits"),
        hits("spam").alias("spam_hits"),
        hits("infra").alias("infra_hits"),
    )
    total = F.col("perf_hits") + F.col("spam_hits") + F.col("infra_hits")
    return scored.select(
        "doc_id",
        "source",
        "perf_hits",
        "spam_hits",
        "infra_hits",
        total.alias("total_hits"),
        F.when(total >= _DROP_AT, F.lit("drop"))
        .when(total >= _FLAG_AT, F.lit("flag"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


# --- llm_url_canonicalize: URL normalization + collapse -----------------------

# The crawl-dedup step BEFORE any fetch: raw URLs differ in scheme/host
# case, trailing slashes, tracking params, and fragments while naming the
# same resource. Messy variants are synthesized deterministically (case
# flips by parity, conditional trailing slash / utm params / fragment;
# path keys on doc_id % 10 so variants genuinely collide), then
# canonicalized — lowercase scheme+host, strip fragment and trailing
# slash, keep ONLY the allowlisted id param — and collapsed. The whole
# chain is split_part/lower/regexp algebra shared by both engines.
_RAW_URL_DUCK = """
  CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END
  || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
  || '.Example.COM/p/' || (doc_id % 10)
  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
  || '?utm_source=x&id=' || (doc_id % 5)
  || CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=y' ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
"""

_URL_CANON_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, source, {_RAW_URL_DUCK} AS url FROM documents
),
parts AS (
  SELECT doc_id, url,
         lower(split_part(url, '://', 1)) AS scheme,
         lower(split_part(split_part(url, '://', 2), '/', 1)) AS host,
         regexp_replace(
           split_part(split_part('/' || split_part(split_part(url, '://', 2),
                                                    '/', 2) || '/'
                                 || split_part(split_part(url, '://', 2), '/', 3),
                      '#', 1), '?', 1),
           '/$', '') AS path,
         split_part(split_part(split_part(url, 'id=', 2), '&', 1), '#', 1)
           AS id_param
  FROM raw
),
canon AS (
  SELECT doc_id, url,
         scheme || '://' || host || path
           || CASE WHEN id_param <> '' THEN '?id=' || id_param ELSE '' END
           AS canonical
  FROM parts
)
SELECT canonical,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM canon
GROUP BY canonical
"""


@register("llm_url_canonicalize", oracle=_URL_CANON_ORACLE, tags=("llm", "text"))
def llm_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + collapse: lowercase scheme/host, strip
    fragment and trailing slash, drop everything but the allowlisted id
    param, then group raw variants under their canonical form — the
    crawl-frontier dedup that stops refetching HTTP://HOST/x/?utm=…#frag
    as a new page. Messy variants are synthesized deterministically so
    the collapse factor is known-true.

    Scale shape: canonicalization is ONE codegen projection (split_part /
    lower / regexp algebra — no UDF, no Python); the only corpus exchange
    is the aggregate on the canonical key, and COUNT(DISTINCT url) rides
    it at the already-collapsed grain. At 100 TB the frontier shuffles
    canonical strings once — exactly the llm_exact_dedup digest shape."""
    docs = table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.expr(
            """
            CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END
            || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
            || '.Example.COM/p/' || CAST(doc_id % 10 AS STRING)
            || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
            || '?utm_source=x&id=' || CAST(doc_id % 5 AS STRING)
            || CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=y' ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
            """
        ).alias("url"),
    )
    parts = raw.select(
        "doc_id",
        "url",
        F.expr("lower(split_part(url, '://', 1))").alias("scheme"),
        F.expr("lower(split_part(split_part(url, '://', 2), '/', 1))").alias(
            "host"
        ),
        F.expr(
            """regexp_replace(
                 split_part(split_part('/' || split_part(split_part(url, '://', 2),
                                                          '/', 2) || '/'
                                       || split_part(split_part(url, '://', 2), '/', 3),
                            '#', 1), '?', 1),
                 '/$', '')"""
        ).alias("path"),
        F.expr(
            "split_part(split_part(split_part(url, 'id=', 2), '&', 1), '#', 1)"
        ).alias("id_param"),
    )
    canon = parts.select(
        "doc_id",
        "url",
        F.expr(
            """scheme || '://' || host || path
               || CASE WHEN id_param <> '' THEN '?id=' || id_param ELSE '' END"""
        ).alias("canonical"),
    )
    return canon.groupBy("canonical").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.countDistinct("url").cast("bigint").alias("n_raw_variants"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


# --- llm_pad_waste: pad-vs-pack efficiency audit -------------------------------

# Quantifies WHY llm_seq_pack exists: if every document were its own
# training sequence padded up to a multiple of 64 tokens, how many pad
# tokens would each source burn? The audit reports real vs padded token
# totals and the waste ratio — the number that justifies (and sizes) a
# packing stage in a training-data pipeline. All integers: padded =
# 64·ceil(tokens/64) per doc, summed map-side; the one ratio division
# has exact-operand inputs.
_PAD_MULT = 64

_PAD_WASTE_ORACLE = f"""
WITH t AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
       CAST(SUM({_PAD_MULT} * ((n_tokens + {_PAD_MULT - 1}) // {_PAD_MULT}))
            AS BIGINT) AS padded_tokens,
       CAST(SUM({_PAD_MULT} * ((n_tokens + {_PAD_MULT - 1}) // {_PAD_MULT}))
            - SUM(n_tokens) AS BIGINT) AS pad_tokens,
       CAST(SUM({_PAD_MULT} * ((n_tokens + {_PAD_MULT - 1}) // {_PAD_MULT}))
            - SUM(n_tokens) AS DOUBLE)
         / CAST(SUM({_PAD_MULT} * ((n_tokens + {_PAD_MULT - 1}) // {_PAD_MULT}))
                AS DOUBLE) AS waste_ratio
FROM t GROUP BY source
"""


@register("llm_pad_waste", oracle=_PAD_WASTE_ORACLE, tags=("llm", "text", "packing"))
def llm_pad_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-vs-pack efficiency audit per source: tokens burned if every
    document were padded to a multiple of 64 instead of packed — the
    number that justifies and sizes llm_seq_pack (a high waste ratio
    means short docs dominate and packing pays).

    Scale shape: one codegen projection (tokenize + ceil-division) into
    one map-side-combined aggregate on the bounded source key; all
    BIGINT, one exact-operand division."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.expr(f"size({tokens_spark('text')})").alias("n_tokens")
    )
    padded = F.expr(
        f"{_PAD_MULT} * ((n_tokens + {_PAD_MULT - 1}) div {_PAD_MULT})"
    )
    g = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("real_tokens"),
        F.sum(padded).cast("bigint").alias("padded_tokens"),
    )
    return g.select(
        "source",
        "n_docs",
        "real_tokens",
        "padded_tokens",
        (F.col("padded_tokens") - F.col("real_tokens")).alias("pad_tokens"),
        (
            (F.col("padded_tokens") - F.col("real_tokens")).cast("double")
            / F.col("padded_tokens").cast("double")
        ).alias("waste_ratio"),
    )


# --- llm_readability: Flesch reading-ease audit per source ---------------------

# The classic text-difficulty heuristic as a corpus-quality dimension next
# to llm_quality_score (surface ratios) and llm_ngram_lm_score (statistical
# fluency): Flesch reading ease from words/sentences/vowel-group syllables.
# Curriculum ordering and audience filtering both key off it. All three
# counts come from ASCII-class regexes (no lower(), so no unicode
# case-folding divergence); the per-doc score is FLOOR-quantized to
# micro-points BEFORE aggregation (the agg_entropy fixed-point recipe), so
# the per-source mean is a division of exact BIGINTs in both engines.
_READABILITY_ORACLE = """
WITH d AS (
  SELECT source,
         GREATEST(1, CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)) AS w,
         GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS s,
         CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS BIGINT) AS y
  FROM documents
),
scored AS (
  SELECT source, w, s, y,
         CAST(floor((206.835
                     - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                     - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))) * 1000000.0)
              AS BIGINT) AS flesch_micro
  FROM d
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_words,
       CAST(SUM(s) AS BIGINT) AS total_sentences,
       CAST(SUM(y) AS BIGINT) AS total_syllables,
       CAST(SUM(flesch_micro) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
         AS avg_flesch
FROM scored GROUP BY source
"""


@register("llm_readability", oracle=_READABILITY_ORACLE, tags=("llm", "text"))
def llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source: words / sentences / vowel-group
    syllables from ASCII-class regexes, per-doc score FLOOR-quantized to
    micro-points, then a per-source mean of exact BIGINTs — the
    text-difficulty axis for curriculum ordering and audience filters.

    Scale shape: counting is ONE codegen projection (Java regex inside
    whole-stage codegen — text never leaves the map side); the only
    exchange is the partial/final aggregate on the bounded source grain.
    The doubles feeding floor() are divisions of exact BIGINTs with
    shared literal coefficients, identical in both engines."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("size(regexp_extract_all(text, '[A-Za-z]+', 0))").cast("bigint"),
        ).alias("w"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("bigint"),
        ).alias("s"),
        F.expr("size(regexp_extract_all(text, '[AEIOUYaeiouy]+', 0))")
        .cast("bigint")
        .alias("y"),
    )
    scored = d.withColumn(
        "flesch_micro",
        F.floor(
            (
                F.lit(206.835)
                - F.lit(1.015) * (F.col("w").cast("double") / F.col("s").cast("double"))
                - F.lit(84.6) * (F.col("y").cast("double") / F.col("w").cast("double"))
            )
            * F.lit(1000000.0)
        ).cast("bigint"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("total_words"),
        F.sum("s").alias("total_sentences"),
        F.sum("y").alias("total_syllables"),
        (
            F.sum("flesch_micro").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
        ).alias("avg_flesch"),
    )


# --- llm_jsd_drift: Jensen-Shannon divergence of each source vs the corpus ----

# The text-level drift monitor next to dq_drift (numeric columns) and
# llm_char_bigram_entropy (character level): how far is each source's
# unigram distribution from the corpus mixture? JSD is symmetric, bounded
# by ln 2, and defined even where a source is missing tokens — the metric
# behind domain-shift alarms and mixture re-weighting. Fixed-point
# discipline: every entropy term is FLOOR-quantized to micro-nats (the
# agg_entropy recipe) so per-source sums are BIGINT and combine
# order-free; the only doubles feeding ln() are divisions of exact
# BIGINTs, identical in both engines.
#
# Grid-free identity: for tokens ABSENT from source s, the mixture term is
# -(q/2)·ln(q/2), so  H_m(s) = Σ_{t∈s} tm  +  (A − Σ_{t∈s} tq_half)
# where A sums tq_half over the WHOLE vocab — no |sources|×|vocab|
# cross-join materializes at any scale.
_JSD_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(string_split(text, ' ')) AS token FROM documents
),
st AS (SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY source, token),
src_tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS ts FROM st GROUP BY source),
voc AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY token),
tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t FROM voc),
vq AS (
  SELECT token, c_t,
         CAST(floor(-(CAST(c_t AS DOUBLE) / t) * ln(CAST(c_t AS DOUBLE) / t)
                    * 1000000.0) AS BIGINT) AS tq,
         CAST(floor(-((CAST(c_t AS DOUBLE) / t) / 2.0)
                    * ln((CAST(c_t AS DOUBLE) / t) / 2.0) * 1000000.0) AS BIGINT)
           AS tq_half
  FROM voc CROSS JOIN tot
),
corpus AS (
  SELECT CAST(SUM(tq) AS BIGINT) AS b, CAST(SUM(tq_half) AS BIGINT) AS a FROM vq
),
terms AS (
  SELECT st.source,
         CAST(floor(-(CAST(st.c_st AS DOUBLE) / s.ts)
                    * ln(CAST(st.c_st AS DOUBLE) / s.ts) * 1000000.0) AS BIGINT)
           AS tp,
         CAST(floor(-((CAST(st.c_st AS DOUBLE) / s.ts
                       + CAST(vq.c_t AS DOUBLE) / tot.t) / 2.0)
                    * ln((CAST(st.c_st AS DOUBLE) / s.ts
                          + CAST(vq.c_t AS DOUBLE) / tot.t) / 2.0)
                    * 1000000.0) AS BIGINT) AS tm,
         vq.tq_half
  FROM st JOIN src_tot s USING (source) JOIN vq USING (token) CROSS JOIN tot
),
per_src AS (
  SELECT source,
         CAST(SUM(tm) AS BIGINT) AS sum_tm,
         CAST(SUM(tp) AS BIGINT) AS h_p,
         CAST(SUM(tq_half) AS BIGINT) AS sum_tqh
  FROM terms GROUP BY source
)
SELECT p.source, s.ts AS n_tokens,
       CAST(2 * (p.sum_tm + c.a - p.sum_tqh) - p.h_p - c.b AS DOUBLE)
         / 2000000.0 AS jsd_nats,
       CAST(2 * (p.sum_tm + c.a - p.sum_tqh) - p.h_p - c.b AS DOUBLE)
         / 2000000.0 / 0.6931471805599453 AS jsd_norm
FROM per_src p JOIN src_tot s USING (source) CROSS JOIN corpus c
"""


@register("llm_jsd_drift", oracle=_JSD_ORACLE, tags=("llm", "text", "quality"))
def llm_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (nats + ln2-normalized) between each
    source's unigram distribution and the corpus mixture — the
    domain-shift alarm and mixture-reweighting input at the token level.

    Scale shape: ONE tokenize pass collapses map-side into the persisted
    (source, token) count table — the only corpus-sized exchange carries
    (hash, count) cells at the bounded vocab grain; every derived table
    (per-source totals, vocab marginal, corpus constants) re-aggregates
    that cache. Tokens absent from a source never materialize: a
    vocab-level constant plus a per-source correction replaces the
    |sources|x|vocab| grid (see module note). All entropy terms are
    FLOOR-micro-quantized BIGINTs; the two output divisions see exact
    operands and a shared ln-2 literal."""
    docs = table(spark, sf_dir, "documents")
    st = scoped_persist(
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    src_tot = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("ts"))
    voc = st.groupBy("token").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    tot = voc.agg(F.sum("c_t").cast("bigint").alias("t"))

    def micro(expr: str) -> str:
        return f"CAST(floor({expr} * 1000000.0) AS BIGINT)"

    q = "CAST(c_t AS DOUBLE) / t"
    vq = scoped_persist(
        voc.join(F.broadcast(tot)).selectExpr(
            "token",
            "c_t",
            "t",
            f"{micro(f'-({q}) * ln({q})')} AS tq",
            f"{micro(f'-(({q}) / 2.0) * ln(({q}) / 2.0)')} AS tq_half",
        )
    )
    corpus = vq.agg(
        F.sum("tq").cast("bigint").alias("b"), F.sum("tq_half").cast("bigint").alias("a")
    )
    p = "CAST(c_st AS DOUBLE) / ts"
    m = f"({p} + CAST(c_t AS DOUBLE) / t)"
    terms = (
        st.join(F.broadcast(src_tot), "source")
        .join(vq, "token")
        .selectExpr(
            "source",
            f"{micro(f'-({p}) * ln({p})')} AS tp",
            f"{micro(f'-({m} / 2.0) * ln({m} / 2.0)')} AS tm",
            "tq_half",
        )
    )
    per_src = terms.groupBy("source").agg(
        F.sum("tm").cast("bigint").alias("sum_tm"),
        F.sum("tp").cast("bigint").alias("h_p"),
        F.sum("tq_half").cast("bigint").alias("sum_tqh"),
    )
    num = (
        F.lit(2) * (F.col("sum_tm") + F.col("a") - F.col("sum_tqh"))
        - F.col("h_p")
        - F.col("b")
    ).cast("double")
    return (
        per_src.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus))
        .select(
            "source",
            F.col("ts").alias("n_tokens"),
            (num / 2000000.0).alias("jsd_nats"),
            (num / 2000000.0 / 0.6931471805599453).alias("jsd_norm"),
        )
    )


# --- llm_bleu: BLEU-2 with clipping and brevity penalty -------------------------

# The precision-side eval twin of llm_rouge_n's recall: modified n-gram
# precision (candidate counts CLIPPED at the reference's count — the part
# plain overlap gets wrong on repeated grams) for n=1,2, geometric-mean
# combined under a brevity penalty. Same fixed panel as rouge (refs
# doc_id<10, candidates 10..59) so the two metrics are directly
# comparable. Clipped sums and lengths are exact BIGINTs; exp/ln see
# exact-ratio doubles; ROUND(9) absorbs the libm ulp.
_BLEU_REFS = 10
_BLEU_CANDS = 60


def _bleu_grams_duck(n: int, lo: str, hi: str, side: str) -> str:
    toks = tokens_duckdb("text")
    gram = f"unnest({shingles_duckdb('toks', n)})" if n > 1 else "unnest(toks)"
    return f"""
  SELECT doc_id AS {side}_id, g AS gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, {gram} AS g FROM
        (SELECT doc_id, {toks} AS toks FROM documents
         WHERE doc_id >= {lo} AND doc_id < {hi}))
  GROUP BY doc_id, g"""


_BLEU_ORACLE = f"""
WITH r1 AS ({_bleu_grams_duck(1, "0", str(_BLEU_REFS), "ref")}),
c1 AS ({_bleu_grams_duck(1, str(_BLEU_REFS), str(_BLEU_CANDS), "cand")}),
r2 AS ({_bleu_grams_duck(2, "0", str(_BLEU_REFS), "ref")}),
c2 AS ({_bleu_grams_duck(2, str(_BLEU_REFS), str(_BLEU_CANDS), "cand")}),
len_r AS (SELECT ref_id, CAST(SUM(c) AS BIGINT) AS r_len FROM r1 GROUP BY ref_id),
len_c AS (SELECT cand_id, CAST(SUM(c) AS BIGINT) AS c_len FROM c1 GROUP BY cand_id),
tot_c2 AS (SELECT cand_id, CAST(SUM(c) AS BIGINT) AS t2 FROM c2 GROUP BY cand_id),
clip1 AS (
  SELECT r1.ref_id, c1.cand_id, CAST(SUM(least(c1.c, r1.c)) AS BIGINT) AS m1
  FROM c1 JOIN r1 USING (gram) GROUP BY r1.ref_id, c1.cand_id
),
clip2 AS (
  SELECT r2.ref_id, c2.cand_id, CAST(SUM(least(c2.c, r2.c)) AS BIGINT) AS m2
  FROM c2 JOIN r2 USING (gram) GROUP BY r2.ref_id, c2.cand_id
),
pairs AS (
  SELECT lr.ref_id, lc.cand_id, lr.r_len, lc.c_len, tc.t2,
         coalesce(c1m.m1, 0) AS m1, coalesce(c2m.m2, 0) AS m2
  FROM len_r lr CROSS JOIN len_c lc
  JOIN tot_c2 tc ON tc.cand_id = lc.cand_id
  LEFT JOIN clip1 c1m ON c1m.ref_id = lr.ref_id AND c1m.cand_id = lc.cand_id
  LEFT JOIN clip2 c2m ON c2m.ref_id = lr.ref_id AND c2m.cand_id = lc.cand_id
)
SELECT ref_id, cand_id, m1, m2, c_len, r_len,
       ROUND(CASE WHEN m1 = 0 OR m2 = 0 THEN 0.0 ELSE
         (CASE WHEN c_len < r_len
               THEN exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))
               ELSE 1.0 END)
         * exp((ln(CAST(m1 AS DOUBLE) / CAST(c_len AS DOUBLE))
                + ln(CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE))) / 2.0)
       END, 9) AS bleu2
FROM pairs
"""


@register("llm_bleu", oracle=_BLEU_ORACLE, tags=("llm", "text"))
def llm_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (clipped modified 1/2-gram precision, geometric mean, brevity
    penalty) between the fixed 10-doc reference panel and 50 candidates —
    the precision-side eval metric next to llm_rouge_n's recall, with the
    clipping that plain overlap gets wrong on repeated grams.

    Scale shape: gram counting collapses each side map-side to (doc, gram,
    count) cells; the clip joins carry grams only between the PANEL-sized
    sides (refs broadcast — the panel is a constant, so eval cost is
    O(candidates), not O(corpus²)); the final pair grid is panel×panel.
    Clipped sums/lengths are exact BIGINTs; exp/ln see exact-ratio
    doubles; ROUND(9) absorbs the libm ulp."""
    docs = table(spark, sf_dir, "documents")

    def grams(lo: int, hi: int, n: int, side: str) -> DataFrame:
        base = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).selectExpr(
            f"doc_id AS {side}_id", f"{tokens_spark('text')} AS toks"
        )
        g = (
            base.selectExpr(f"{side}_id", f"explode({shingles_spark('toks', n)}) AS gram")
            if n > 1
            else base.selectExpr(f"{side}_id", "explode(toks) AS gram")
        )
        return g.groupBy(f"{side}_id", "gram").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )

    r1 = grams(0, _BLEU_REFS, 1, "ref")
    c1 = scoped_persist(grams(_BLEU_REFS, _BLEU_CANDS, 1, "cand"))
    r2 = grams(0, _BLEU_REFS, 2, "ref")
    c2 = scoped_persist(grams(_BLEU_REFS, _BLEU_CANDS, 2, "cand"))
    len_r = r1.groupBy("ref_id").agg(F.sum("c").cast("bigint").alias("r_len"))
    len_c = c1.groupBy("cand_id").agg(F.sum("c").cast("bigint").alias("c_len"))
    tot_c2 = c2.groupBy("cand_id").agg(F.sum("c").cast("bigint").alias("t2"))
    clip1 = (
        c1.join(F.broadcast(r1.withColumnRenamed("c", "rc")), "gram")
        .groupBy("ref_id", "cand_id")
        .agg(F.sum(F.least("c", "rc")).cast("bigint").alias("m1"))
    )
    clip2 = (
        c2.join(F.broadcast(r2.withColumnRenamed("c", "rc")), "gram")
        .groupBy("ref_id", "cand_id")
        .agg(F.sum(F.least("c", "rc")).cast("bigint").alias("m2"))
    )
    pairs = (
        F.broadcast(len_r)
        .crossJoin(len_c)
        .join(tot_c2, "cand_id")
        .join(clip1, ["ref_id", "cand_id"], "left")
        .join(clip2, ["ref_id", "cand_id"], "left")
        .select(
            "ref_id",
            "cand_id",
            F.coalesce("m1", F.lit(0)).cast("bigint").alias("m1"),
            F.coalesce("m2", F.lit(0)).cast("bigint").alias("m2"),
            "c_len",
            "r_len",
            "t2",
        )
    )
    c_len = F.col("c_len").cast("double")
    bp = F.when(
        F.col("c_len") < F.col("r_len"),
        F.exp(F.lit(1.0) - F.col("r_len").cast("double") / c_len),
    ).otherwise(F.lit(1.0))
    core = F.exp(
        (
            F.log(F.col("m1").cast("double") / c_len)
            + F.log(F.col("m2").cast("double") / F.col("t2").cast("double"))
        )
        / 2.0
    )
    return pairs.select(
        "ref_id",
        "cand_id",
        "m1",
        "m2",
        "c_len",
        "r_len",
        F.round(
            F.when((F.col("m1") == 0) | (F.col("m2") == 0), 0.0).otherwise(bp * core), 9
        ).alias("bleu2"),
    )


# --- llm_rater_kappa: inter-rater agreement between two quality gates ----------

# Per-document token, distinct-token and char counts: the inputs of the
# rater gates in the llm_rater_kappa and llm_fleiss_kappa oracles.
_GATE_STATS_DUCK = """SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         strlen(text) AS n_chars
  FROM documents WHERE text IS NOT NULL"""

# When two independent quality raters (heuristic filters, model
# classifiers, human annotators) label the same corpus, raw percent
# agreement overstates consensus — both raters saying "keep" to almost
# everything agrees by accident. Cohen's kappa corrects for
# chance-expected agreement and is the standard report in every
# annotation/eval pipeline. Raters here are two deterministic
# integer-arithmetic gates over each document (the llm_quality_score
# lexical gate and an independent length/char gate), so the 2x2
# confusion table is exact, and kappa's closing ratio
# (N*(n11+n00) - (a1*b1 + a0*b0)) / (N^2 - (a1*b1 + a0*b0)) sees exact
# BIGINT operands — ROUND(9) only for the final division.
_RATER_KAPPA_ORACLE = f"""
WITH m AS ({_GATE_STATS_DUCK}),
r AS (
  SELECT doc_id,
         CASE WHEN n_tok >= 20 AND n_uniq * 10 >= 3 * n_tok THEN 1 ELSE 0 END AS ra,
         CASE WHEN n_chars >= 100 AND (n_chars - n_tok + 1) <= 8 * n_tok
              THEN 1 ELSE 0 END AS rb
  FROM m
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ra * rb) AS BIGINT) AS n11,
         CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
         CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
         CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
  FROM r
)
SELECT n, n11, n10, n01, n00,
       ROUND(CAST(n11 + n00 AS DOUBLE) / n, 9) AS p_observed,
       ROUND(CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
             / (CAST(n AS DOUBLE) * n), 9) AS p_expected,
       ROUND(CAST(n * (n11 + n00)
                  - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
             / (CAST(n AS HUGEINT) * n
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))), 9)
         AS kappa
FROM c
"""


@register("llm_rater_kappa", oracle=_RATER_KAPPA_ORACLE, tags=("llm", "text", "stats"))
def llm_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality raters (the
    lexical keep gate and a length/char-shape gate): the chance-corrected
    agreement report every annotation and auto-labeling pipeline tracks.
    Both raters are exact integer gates, so the 2x2 confusion table and
    kappa's numerator/denominator are exact BIGINT arithmetic — one
    ROUND(9) division at the end.

    Scale shape: ONE map-side-combinable pass collapses the corpus to
    five counters; everything after is scalar arithmetic on a single
    row. Adding a third rater (a model score column) changes the
    conditional sums, not the plan."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    m = docs.select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        F.length("text").cast("long").alias("n_chars"),
    )
    ra = F.when(
        (F.col("n_tok") >= 20) & (F.col("n_uniq") * 10 >= 3 * F.col("n_tok")), 1
    ).otherwise(0)
    rb = F.when(
        (F.col("n_chars") >= 100)
        & ((F.col("n_chars") - F.col("n_tok") + 1) <= 8 * F.col("n_tok")),
        1,
    ).otherwise(0)
    r = m.select(ra.alias("ra"), rb.alias("rb"))
    c = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("bigint").alias("n00"),
    )
    a1b1 = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
    a0b0 = (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    chance = a1b1 + a0b0
    nd = F.col("n").cast("decimal(38,0)")
    return c.select(
        "n", "n11", "n10", "n01", "n00",
        F.round((F.col("n11") + F.col("n00")).cast("double") / F.col("n"), 9).alias(
            "p_observed"
        ),
        F.round(
            chance.cast("double") / (F.col("n").cast("double") * F.col("n")), 9
        ).alias("p_expected"),
        F.round(
            (F.col("n") * (F.col("n11") + F.col("n00")) - chance).cast("double")
            / (nd * nd - chance).cast("double"),
            9,
        ).alias("kappa"),
    )


# --- llm_lexical_diversity: TTR + Gini-Simpson per document ---------------------

# The lexical-diversity pair every corpus-quality report carries: the
# type-token ratio (vocab breadth) and the Gini-Simpson index
# 1 - sum(c_i*(c_i-1)) / (N*(N-1)) (repeat concentration — the
# probability two sampled tokens differ). Both are ratios of exact
# BIGINTs: per-(doc, token) counts come from ONE explode + cell-grain
# aggregate, the quadratic term sums c*(c-1) per doc, and the only
# doubles are the two closing ROUND(9) divisions. Single-token docs pin
# simpson to NULL (undefined) rather than an arbitrary 0/1.
_LEXDIV_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t
  FROM documents WHERE text IS NOT NULL AND text <> ''
),
cells AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, t
),
d AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2
  FROM cells GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 9) AS ttr,
       CASE WHEN n_tokens > 1
            THEN ROUND(1.0 - CAST(rep2 AS DOUBLE) / (n_tokens * (n_tokens - 1)), 9)
       END AS gini_simpson
FROM d
"""


@register("llm_lexical_diversity", oracle=_LEXDIV_ORACLE, tags=("llm", "text"))
def llm_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and the
    Gini-Simpson index (probability two sampled tokens differ) — the
    repetition/diversity gate pair next to llm_quality_score's stopword
    lens and llm_rep_filter's span lens. Exact integer counts; two
    ROUND(9) closing divisions.

    Scale shape: ONE explode to the (doc, token) cell grain with
    map-side partial counting (the exchange carries cells, bounded by
    per-doc vocabulary, not raw token instances), then a doc-grain
    aggregate. Works unchanged when a single document's token stream is
    larger than executor memory — no in-row array fold is attempted."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    cells = tok.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    d = cells.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("rep2"),
    )
    nt = F.col("n_tokens")
    return d.select(
        "doc_id", "n_tokens", "n_types",
        F.round(F.col("n_types").cast("double") / nt, 9).alias("ttr"),
        F.when(
            nt > 1,
            F.round(
                F.lit(1.0) - F.col("rep2").cast("double") / (nt * (nt - 1)), 9
            ),
        ).alias("gini_simpson"),
    )


# --- llm_term_lift: per-source distinctive vocabulary ---------------------------

# "What words make this source different?" — the domain-signature report
# behind corpus cards and mixture debugging: for each source, the top 5
# terms by lift = (share of term within source) / (share in corpus),
# among terms with >= 5 in-source occurrences. The lift ratio is a
# division of exact BIGINT cross-products ((c_st * N) vs (N_s * c_t)),
# so ranking never sees a float: the window orders by the exact integer
# pair and lift is ROUND(9)ed only for display.
_TERM_LIFT_TOPK = 5
_TERM_LIFT_MIN = 5

_TERM_LIFT_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t
  FROM documents WHERE text IS NOT NULL
),
st AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_st
  FROM tok GROUP BY source, t
),
s AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
n AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM st),
scored AS (
  SELECT st.source, st.t, st.c_st, ct.c_t,
         ROUND(CAST(st.c_st * n.n AS DOUBLE) / (s.n_s * ct.c_t), 9) AS lift,
         row_number() OVER (
           PARTITION BY st.source
           ORDER BY CAST(st.c_st AS HUGEINT) * n.n * 1000000
                    // (CAST(s.n_s AS HUGEINT) * ct.c_t) DESC, st.t
         ) AS rk
  FROM st JOIN s USING (source) JOIN ct USING (t) CROSS JOIN n
  WHERE st.c_st >= {_TERM_LIFT_MIN}
)
SELECT source, t AS term, c_st AS n_in_source, c_t AS n_in_corpus, lift
FROM scored WHERE rk <= {_TERM_LIFT_TOPK}
"""


@register("llm_term_lift", oracle=_TERM_LIFT_ORACLE, tags=("llm", "text"))
def llm_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per source by lift (in-source share over
    corpus share, min 5 occurrences) — the domain-signature view of the
    corpus mixture, complementing llm_tfidf (per-doc weights) and
    llm_pmi_collocations (pairwise association). Ranking rides an exact
    integer key (micro-scaled cross-product division), so rank order can
    never flip on a double ulp.

    Scale shape: tokens collapse map-side to the (source, term) cell
    grain; source totals (|sources| rows) and the corpus total (1 row)
    broadcast back; the per-term corpus count joins on the term grain;
    the ONLY window rides the filtered candidate cells partitioned by
    source. No token instance crosses more than the first exchange."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    st = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_st")
    )
    st = scoped_persist(st)
    s = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    ct = st.groupBy("t").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    n = st.agg(F.sum("c_st").cast("bigint").alias("n"))
    cand = (
        st.filter(F.col("c_st") >= _TERM_LIFT_MIN)
        .join(F.broadcast(s), "source")
        .join(ct, "t")
        .crossJoin(F.broadcast(n))
    )
    # truncating integer division on both sides (DuckDB // vs Spark div):
    # the micro-scaled exact rank key; div's LONG result range holds
    # because the QUOTIENT is micro-lift (< 1e9 micro even at extreme
    # vocabulary skew) — the agg_spearman BIGINT-range discipline
    key = F.expr(
        "CAST(c_st AS DECIMAL(38,0)) * n * 1000000"
        " div (CAST(n_s AS DECIMAL(38,0)) * c_t)"
    )
    w = Window.partitionBy("source").orderBy(key.desc(), F.col("t"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TERM_LIFT_TOPK)
        .select(
            "source",
            F.col("t").alias("term"),
            F.col("c_st").alias("n_in_source"),
            F.col("c_t").alias("n_in_corpus"),
            F.round(
                (F.col("c_st") * F.col("n")).cast("double")
                / (F.col("n_s") * F.col("c_t")),
                9,
            ).alias("lift"),
        )
    )


# --- llm_chrf: character-bigram chrF2 on the bounded evaluation panel ----------

# chrF (Popovic 2015) is the character-n-gram F-score used as a
# language-agnostic generation/translation metric; this is the bigram
# rung with the standard beta = 2 recall weighting and the standard
# whitespace strip. Unlike llm_rouge_n's distinct-overlap recall, chrF
# uses CLIPPED COUNTS: overlap = sum over grams of min(count_ref,
# count_cand) — so the per-(doc, gram) count tables join on the gram and
# the F-score collapses to the exact integer identity
# chrF2 = 5*overlap / (4*n_ref + n_cand) (derived from
# (1+b^2)PR/(b^2 P + R) with P = ov/n_cand, R = ov/n_ref), ROUND(9).
_CHRF_REFS = 10
_CHRF_CANDS = 60  # doc_id in [10, 60)

_CHRF_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, replace(text, ' ', '') AS s
  FROM documents WHERE doc_id < {_CHRF_CANDS} AND text IS NOT NULL
),
grams AS (
  -- length(), not strlen(): grams are CHARACTER bigrams and DuckDB
  -- substr() is char-addressed while strlen() counts BYTES — on
  -- multibyte docs the byte bound would fabricate trailing grams
  SELECT doc_id, substr(s, t.i, 2) AS g, CAST(COUNT(*) AS BIGINT) AS c
  FROM docs, UNNEST(range(1, greatest(length(s), 1))) AS t(i)
  WHERE length(s) >= 2
  GROUP BY doc_id, substr(s, t.i, 2)
),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM grams GROUP BY doc_id),
ov AS (
  SELECT r.doc_id AS ref_id, c.doc_id AS cand_id,
         CAST(SUM(least(r.c, c.c)) AS BIGINT) AS overlap
  FROM grams r JOIN grams c
    ON c.g = r.g AND r.doc_id < {_CHRF_REFS} AND c.doc_id >= {_CHRF_REFS}
  GROUP BY r.doc_id, c.doc_id
)
SELECT ov.ref_id, ov.cand_id, ov.overlap,
       tr.n AS n_ref_grams, tc.n AS n_cand_grams,
       ROUND(CAST(5 * ov.overlap AS DOUBLE) / (4 * tr.n + tc.n), 9) AS chrf2
FROM ov
JOIN tot tr ON tr.doc_id = ov.ref_id
JOIN tot tc ON tc.doc_id = ov.cand_id
"""


@register("llm_chrf", oracle=_CHRF_ORACLE, tags=("llm", "text"))
def llm_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram chrF2 between each of 10 reference docs and 50
    candidates (the llm_rouge_n panel): clipped-count overlap with the
    beta=2 recall-weighted F collapsed to the exact integer identity
    5*ov / (4*n_ref + n_cand) — one ROUND(9). Whitespace stripped per
    the chrF convention, so the metric sees orthography, not layout.

    Scale shape: per-(doc, gram) counts collapse map-side before the
    gram-grain join (the exchange carries 2-char gram cells, bounded by
    alphabet^2 per doc, not character instances); the panel discipline
    keeps pair count at refs x cands — metric cost never scales with
    corpus^2. Zero-overlap pairs carry no row in both engines."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < _CHRF_CANDS) & F.col("text").isNotNull())
        .select(
            "doc_id", F.regexp_replace(F.col("text"), " ", "").alias("s")
        )
        .filter(F.length("s") >= 2)
    )
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))")
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grams = scoped_persist(grams)
    tot = grams.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    r = grams.filter(F.col("doc_id") < _CHRF_REFS).select(
        F.col("doc_id").alias("ref_id"), "g", F.col("c").alias("cr")
    )
    c = grams.filter(F.col("doc_id") >= _CHRF_REFS).select(
        F.col("doc_id").alias("cand_id"), "g", F.col("c").alias("cc")
    )
    ov = (
        r.join(c, "g")
        .groupBy("ref_id", "cand_id")
        .agg(F.sum(F.least("cr", "cc")).cast("bigint").alias("overlap"))
    )
    tr = tot.select(F.col("doc_id").alias("ref_id"), F.col("n").alias("n_ref_grams"))
    tc = tot.select(
        F.col("doc_id").alias("cand_id"), F.col("n").alias("n_cand_grams")
    )
    return (
        ov.join(F.broadcast(tr), "ref_id")
        .join(F.broadcast(tc), "cand_id")
        .select(
            "ref_id", "cand_id", "overlap", "n_ref_grams", "n_cand_grams",
            F.round(
                (5 * F.col("overlap")).cast("double")
                / (4 * F.col("n_ref_grams") + F.col("n_cand_grams")),
                9,
            ).alias("chrf2"),
        )
    )


# --- llm_skipgram_cooccur: windowed co-occurrence counts ------------------------

# The word2vec / GloVe input statistic: (center, context) pair counts
# within a +/-2 token window — unlike llm_pmi_collocations' ADJACENT
# bigrams, the skip window catches associations across a word gap. The
# distributed shape avoids any positional self-join inequality: tokens
# explode once to (doc, pos, token), a 4-row broadcast of the offsets
# {-2,-1,+1,+2} projects each token onto its context POSITIONS, and one
# equi-join on (doc, pos) resolves positions back to tokens — so the
# join is hash-partitionable and off-the-end positions simply find no
# match. Top 30 pairs by count (ties by pair) via ORDER BY + LIMIT,
# which plans as TakeOrderedAndProject. Pure integer counts.
_SKIPGRAM_WIN = 2
_SKIPGRAM_TOP = 30
_SKIPGRAM_MIN = 5

_SKIPGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, t.i AS pos, ts[t.i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents WHERE text IS NOT NULL),
       UNNEST(range(1, len(ts) + 1)) AS t(i)
),
ctx AS (
  SELECT a.w AS center, b.w AS context, CAST(COUNT(*) AS BIGINT) AS n_cooccur
  FROM tok a
  CROSS JOIN UNNEST([-{_SKIPGRAM_WIN}, -1, 1, {_SKIPGRAM_WIN}]) AS o(off)
  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + o.off
  GROUP BY a.w, b.w
)
SELECT center, context, n_cooccur
FROM ctx
WHERE n_cooccur >= {_SKIPGRAM_MIN}
ORDER BY n_cooccur DESC, center, context
LIMIT {_SKIPGRAM_TOP}
"""


@register("llm_skipgram_cooccur", oracle=_SKIPGRAM_ORACLE, tags=("llm", "text"))
def llm_skipgram_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 (center, context) token co-occurrence pairs within a +/-2
    skip window — the word2vec/GloVe co-occurrence statistic,
    complementing llm_pmi_collocations' adjacent-bigram association.
    Exact integer counts; deterministic (count, center, context)
    ordering.

    Scale shape: ONE posexplode to (doc, pos, token); the window explode
    is a 4-row broadcast making context addressing an EQUI-join on
    (doc, pos) — hash-partitionable, no inequality/range join, no
    per-doc array state; counts collapse map-side on the pair grain and
    the top-k plans as TakeOrderedAndProject (per-partition heaps, one
    30-row merge). At 100 TB the (doc, pos) join co-partitions both
    sides in a single exchange pair."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    offs = spark.createDataFrame(
        [(-_SKIPGRAM_WIN,), (-1,), (1,), (_SKIPGRAM_WIN,)], "off int"
    )
    a = tok.crossJoin(F.broadcast(offs)).select(
        "doc_id", F.col("w").alias("center"), (F.col("pos") + F.col("off")).alias("tpos")
    )
    b = tok.select("doc_id", F.col("pos").alias("tpos"), F.col("w").alias("context"))
    ctx = (
        a.join(b, ["doc_id", "tpos"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cooccur"))
    )
    return (
        ctx.filter(F.col("n_cooccur") >= _SKIPGRAM_MIN)
        .orderBy(F.col("n_cooccur").desc(), "center", "context")
        .limit(_SKIPGRAM_TOP)
    )

# --- llm_self_bleu: corpus diversity via self-BLEU-2 ---------------------------

# Generation-diversity audit: each panel document scored as a CANDIDATE
# against every OTHER panel document as reference — high self-BLEU means
# the corpus repeats itself (mode collapse in synthetic data; boilerplate
# in crawls). Clipped bigram precision per the BLEU recipe: clip each
# candidate bigram count at the maximum count any OTHER document has for
# that bigram. "Other" needs the top-2 trick — per gram keep (m1, its
# multiplicity n1, runner-up m2); the max EXCLUDING doc d is m1 unless d
# alone holds it (c_d = m1 AND n1 = 1), then m2 (0 if absent). Pure
# integers until the one closing ROUND(9) division; no brevity penalty
# (per-doc precision, not corpus BLEU — llm_bleu carries BP).
_SELF_BLEU_PANEL = 60

_SELF_BLEU_ORACLE = f"""
WITH cnt AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, UNNEST({shingles_duckdb(tokens_duckdb('text'), 2)}) AS g
    FROM documents WHERE doc_id < {_SELF_BLEU_PANEL}
  ) t GROUP BY doc_id, g
),
tops AS (
  SELECT g, MAX(c) AS m1,
         CAST(COUNT(*) FILTER (WHERE c = (SELECT MAX(c2.c) FROM cnt c2
                                          WHERE c2.g = cnt.g)) AS BIGINT) AS n1,
         MAX(CASE WHEN c < (SELECT MAX(c3.c) FROM cnt c3 WHERE c3.g = cnt.g)
                  THEN c END) AS m2
  FROM cnt GROUP BY g
),
clipped AS (
  SELECT cnt.doc_id,
         SUM(cnt.c) AS n_bigrams,
         SUM(least(cnt.c,
             CASE WHEN cnt.c = t.m1 AND t.n1 = 1 THEN COALESCE(t.m2, 0)
                  ELSE t.m1 END)) AS n_clipped
  FROM cnt JOIN tops t ON t.g = cnt.g
  GROUP BY cnt.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_clipped AS BIGINT) AS n_clipped,
       ROUND(CAST(n_clipped AS DOUBLE) / n_bigrams, 9) AS self_bleu2
FROM clipped WHERE n_bigrams > 0
"""


@register("llm_self_bleu", oracle=_SELF_BLEU_ORACLE, tags=("llm", "text"))
def llm_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-2 (clipped bigram precision vs all OTHER panel docs) per
    document — the mode-collapse / boilerplate diversity audit for
    generated corpora. Exclude-self clipping via the per-gram top-2
    statistics (max, its multiplicity, runner-up; see header comment) —
    integers end-to-end, one closing division.

    Scale shape: panel-bounded like llm_bleu (references are quadratic by
    nature); within the panel everything is (doc, gram) cell aggregates —
    the per-gram top-2 collapse replaces the naive doc x doc x gram
    reference join, so even a 10^5-doc panel exchanges gram cells, not
    pairs. Corpus-scale use = sampled panels per source, the
    llm_dataset_card pattern."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < _SELF_BLEU_PANEL)
    grams = docs.select(
        "doc_id",
        F.explode(F.expr(shingles_spark(tokens_spark("text"), 2))).alias("g"),
    )
    cnt = scoped_persist(
        grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # The top-2 statistics need the per-gram max alongside each cell; a
    # second self-aggregate joined back keeps it window-free.
    gmax = cnt.groupBy("g").agg(F.max("c").alias("m1"))
    with_max = cnt.join(gmax, "g")
    tops = with_max.groupBy("g").agg(
        F.max("m1").alias("m1"),
        F.sum(F.when(F.col("c") == F.col("m1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.max(F.when(F.col("c") < F.col("m1"), F.col("c"))).alias("m2"),
    )
    clip = F.least(
        F.col("c"),
        F.when(
            (F.col("c") == F.col("m1")) & (F.col("n1") == 1),
            F.coalesce(F.col("m2"), F.lit(0)),
        ).otherwise(F.col("m1")),
    )
    clipped = (
        cnt.join(tops, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(clip).cast("bigint").alias("n_clipped"),
        )
    )
    return clipped.filter(F.col("n_bigrams") > 0).select(
        "doc_id",
        "n_bigrams",
        "n_clipped",
        F.round(F.col("n_clipped").cast("double") / F.col("n_bigrams"), 9).alias(
            "self_bleu2"
        ),
    )

# --- llm_langid_eval: confusion matrix for the language classifier -------------

# Classifier QA for llm_lang_id, the way a data team actually consumes
# it: the labeled-vs-predicted confusion matrix with per-label recall and
# the global accuracy riding every row. Reuses the SAME stopword-profile
# scorer and argmax-tiebreak CASE as llm_lang_id (one source of truth for
# the classifier in each engine), so this entry pins that the EVALUATION
# of the classifier — not just its raw output — is engine-portable.
# Counts are integers; recall/accuracy are single divisions of identical
# integer pairs, ROUND(9).
_LANGID_EVAL_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {", ".join(f"{_score_duck(lg)} AS s_{lg}" for lg in _LANGS)}
  FROM documents
),
pred AS (
  SELECT labeled_lang,
         {_argmax_case({lg: f"s_{lg}" for lg in _LANGS})} AS predicted_lang
  FROM scored
),
conf AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
lt AS (SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_label FROM conf GROUP BY 1),
acc AS (
  SELECT CAST(SUM(CASE WHEN labeled_lang = predicted_lang THEN n ELSE 0 END) AS BIGINT)
           AS n_correct,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM conf
)
SELECT c.labeled_lang, c.predicted_lang, c.n,
       ROUND(CAST(c.n AS DOUBLE) / lt.n_label, 9) AS label_share,
       ROUND(CAST(a.n_correct AS DOUBLE) / a.n_total, 9) AS overall_accuracy
FROM conf c JOIN lt ON lt.labeled_lang = c.labeled_lang CROSS JOIN acc a
"""


@register("llm_langid_eval", oracle=_LANGID_EVAL_ORACLE, tags=("llm", "text"))
def llm_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of llm_lang_id's stopword-profile classifier vs
    the gold lang label: per-(labeled, predicted) counts, per-label
    share (row-normalized recall on the diagonal), and the global
    accuracy on every row. One source of truth: the scorer and argmax
    CASE are the same module-level fragments llm_lang_id compiles.

    Scale shape: per-row classification is codegen projection work; ONE
    map-side collapse to the |langs|² confusion grain; margins and the
    accuracy scalar broadcast back onto that constant-size table. The
    corpus is scanned once."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang").alias("labeled_lang"),
        *[F.expr(_score_spark(lg)).cast("long").alias(f"s_{lg}") for lg in _LANGS],
    )
    pred = scored.select(
        "labeled_lang",
        F.expr(_argmax_case({lg: f"s_{lg}" for lg in _LANGS})).alias("predicted_lang"),
    )
    conf = scoped_persist(
        pred.groupBy("labeled_lang", "predicted_lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    lt = conf.groupBy("labeled_lang").agg(F.sum("n").cast("bigint").alias("n_label"))
    acc = conf.agg(
        F.sum(
            F.when(F.col("labeled_lang") == F.col("predicted_lang"), F.col("n")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return (
        conf.join(F.broadcast(lt), "labeled_lang")
        .crossJoin(F.broadcast(acc))
        .select(
            "labeled_lang", "predicted_lang", "n",
            F.round(F.col("n").cast("double") / F.col("n_label"), 9).alias("label_share"),
            F.round(F.col("n_correct").cast("double") / F.col("n_total"), 9).alias(
                "overall_accuracy"
            ),
        )
    )

# --- llm_source_overlap: pairwise source-level content overlap ------------------

# The corpus-mixing question llm_jsd_drift (distribution shift) and
# llm_dataset_diff (row identity) don't answer: how much of one SOURCE's
# content vocabulary is shared with another? Distinct bigrams per source,
# then the pairwise overlap coefficient |A ∩ B| / min(|A|, |B|) — the
# number that says "these two crawls are near-clones, downweight one"
# before any document-level dedup runs. The intersection is ONE gram
# equi-join on the (source, gram) cell grain — sources² only in the
# closing |sources|² output, never doc x doc.
_SOURCE_OVERLAP_ORACLE = f"""
WITH grams AS (
  SELECT DISTINCT source, UNNEST({shingles_duckdb(tokens_duckdb('text'), 2)}) AS g
  FROM documents
),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
       ROUND(CAST(i.n_common AS DOUBLE) / least(sa.n, sb.n), 9) AS overlap_coef
FROM inter i
JOIN sz sa ON sa.source = i.source_a
JOIN sz sb ON sb.source = i.source_b
"""


@register("llm_source_overlap", oracle=_SOURCE_OVERLAP_ORACLE, tags=("llm", "text"))
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level vocabulary overlap: distinct bigrams per
    source, overlap coefficient |A∩B|/min(|A|,|B|) per source pair —
    the crawl-redundancy screen that runs BEFORE document-level dedup
    (llm_jsd_drift measures distribution shift; this measures shared
    content). Integers until one closing division.

    Scale shape: bigrams collapse to the DISTINCT (source, gram) cell
    grain map-side (the exchange carries each source's vocabulary once,
    not token instances); the intersection is one hash equi-join on
    gram; sizes broadcast onto the |sources|² result. Nothing is ever
    quadratic in documents or grams."""
    docs = rebalance_for_map(table(spark, sf_dir, "documents"), spark)
    grams = scoped_persist(
        docs.select(
            "source",
            F.explode(F.expr(shingles_spark(tokens_spark("text"), 2))).alias("g"),
        ).distinct()
    )
    sz = grams.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = grams.select(F.col("source").alias("source_a"), "g")
    b = grams.select(F.col("source").alias("source_b"), F.col("g").alias("g_b"))
    inter = (
        a.join(b, (a.g == b.g_b) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_common",
            F.round(
                F.col("n_common").cast("double") / F.least("n_a", "n_b"), 9
            ).alias("overlap_coef"),
        )
    )


# --- llm_code_detect: code-likeness scoring for corpus routing ------------------

# Pretraining mixes route code-heavy documents to different tokenizer/
# quality tracks than prose; the standard first-pass detector is pure
# surface statistics (symbol density + keyword hits), no parser. The
# word-soup fixture carries no code, so a deterministic code-ish suffix
# is planted on every 7th doc in-query — both engines enrich identically,
# making the detector's true/false split known. All ratios are exact
# integer divisions; the blend is row-local double algebra on identical
# operands.
_CODE_SUFFIX = " def f(x): return x[0]; // { } int n = 0;"
_CODE_KW = r"\b(def|return|class|import|int|void|for|while)\b"

_CODE_DETECT_ORACLE = f"""
WITH enriched AS (
  SELECT doc_id, source,
         text || CASE WHEN doc_id % 7 = 0 THEN '{_CODE_SUFFIX}' ELSE '' END
           AS t
  FROM documents
),
m AS (
  SELECT doc_id, source,
         CAST(length(t) AS BIGINT) AS n_chars,
         CAST(length(t) - length(regexp_replace(t, '[{{}}();=\\[\\]<>:/]', '',
                                                'g')) AS BIGINT) AS n_sym,
         CAST(len(regexp_extract_all(t, '{_CODE_KW}')) AS BIGINT) AS n_kw,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS n_toks
  FROM enriched
)
SELECT doc_id, source, n_sym, n_kw,
       ROUND(0.7 * CAST(n_sym AS DOUBLE) / CAST(greatest(1, n_chars) AS DOUBLE)
             + 0.3 * CAST(n_kw AS DOUBLE) / CAST(greatest(1, n_toks) AS DOUBLE),
             9) AS code_score,
       COALESCE((0.7 * CAST(n_sym AS DOUBLE)
                 / CAST(greatest(1, n_chars) AS DOUBLE)
                 + 0.3 * CAST(n_kw AS DOUBLE)
                   / CAST(greatest(1, n_toks) AS DOUBLE)) >= 0.02,
                FALSE) AS is_code
FROM m
"""


@register("llm_code_detect", oracle=_CODE_DETECT_ORACLE, tags=("llm", "text"))
def llm_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-statistics code detector (symbol density + keyword rate)
    for routing code-heavy documents to their own pretraining track —
    the cheap pass that runs BEFORE any parser or classifier. Every 7th
    doc gets a deterministic code-ish suffix in-query (the fixture is
    prose-only; both engines enrich identically, so the detector's
    ground truth is known).

    Scale shape: entirely row-local regex/ratio projections — no
    shuffle at all, whole-stage codegen end to end; the score blend
    runs on exact integer ratios so the boolean gate can't flip
    between engines."""
    docs = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(_CODE_SUFFIX)).otherwise(""),
    )
    m = docs.select(
        "doc_id",
        "source",
        F.length(t).cast("bigint").alias("n_chars"),
        (
            F.length(t)
            - F.length(F.regexp_replace(t, r"[{}();=\[\]<>:/]", ""))
        )
        .cast("bigint")
        .alias("n_sym"),
        F.regexp_count(t, F.lit(_CODE_KW)).cast("bigint").alias("n_kw"),
        F.size(F.split(t, " ")).cast("bigint").alias("n_toks"),
    )
    # greatest(1, ...) floors: an EMPTY document has n_chars = 0 and a
    # bare division is a DIVIDE_BY_ZERO job-kill under ANSI mode
    # (adversarial-panel find); the score is 0 for empty docs either way
    score = (
        F.lit(0.7)
        * F.col("n_sym").cast("double")
        / F.greatest(F.lit(1), F.col("n_chars")).cast("double")
        + F.lit(0.3)
        * F.col("n_kw").cast("double")
        / F.greatest(F.lit(1), F.col("n_toks")).cast("double")
    )
    return m.select(
        "doc_id",
        "source",
        "n_sym",
        "n_kw",
        F.round(score, 9).alias("code_score"),
        F.coalesce(score >= 0.02, F.lit(False)).alias("is_code"),
    )


# --- llm_script_mix: character-class composition profiling ----------------------

# Language-ID and mojibake triage start with "what KINDS of characters
# does this doc carry": alpha/digit/whitespace/ascii-punct/non-ascii
# shares and the dominant class. Counts come from length-after-strip
# regex projections (UTF-8-aware length in both engines); the fixture is
# pure lowercase prose, so deterministic digit/punct/accented suffixes
# are planted on arithmetic progressions of doc_id to give every class
# mass.
_SCRIPT_MIX_ORACLE = """
WITH enriched AS (
  SELECT doc_id, source,
         text || CASE WHEN doc_id % 5 = 0 THEN ' 2024 v2 10%' ELSE '' END
              || CASE WHEN doc_id % 11 = 0 THEN ' café résumé'
                      ELSE '' END AS t
  FROM documents
),
m AS (
  SELECT doc_id, source,
         CAST(length(t) AS BIGINT) AS n_total,
         CAST(length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) AS BIGINT)
           AS n_alpha,
         CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT)
           AS n_digit,
         CAST(length(t) - length(regexp_replace(t, ' ', '', 'g')) AS BIGINT)
           AS n_space,
         CAST(length(regexp_replace(t, '[ -~]', '', 'g')) AS BIGINT)
           AS n_nonascii
  FROM enriched
)
SELECT doc_id, source, n_total, n_alpha, n_digit, n_space,
       n_total - n_alpha - n_digit - n_space - n_nonascii AS n_punct,
       n_nonascii,
       ROUND(CAST(n_alpha AS DOUBLE) / CAST(greatest(1, n_total) AS DOUBLE),
             9) AS alpha_share,
       ROUND(CAST(n_nonascii AS DOUBLE)
             / CAST(greatest(1, n_total) AS DOUBLE), 9) AS nonascii_share,
       CASE WHEN n_nonascii * 20 >= n_total THEN 'nonascii'
            WHEN n_digit > n_alpha THEN 'numeric'
            ELSE 'latin' END AS script_class
FROM m
"""


@register("llm_script_mix", oracle=_SCRIPT_MIX_ORACLE, tags=("llm", "text"))
def llm_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per document (alpha / digit /
    whitespace / ascii-punct / non-ascii counts, shares, and a routing
    class) — the mojibake/mixed-script triage that runs before
    language-ID. Deterministic digit/punct/accented suffixes are
    planted in-query on doc_id progressions (the fixture is pure
    lowercase prose; both engines enrich identically).

    Scale shape: pure row-local length-after-strip regex projections —
    zero shuffle, codegen end to end; the routing class is decided by
    integer cross-multiplication (n_nonascii*20 >= n_total), never a
    double."""
    docs = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" 2024 v2 10%")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" café résumé"))
        .otherwise(""),
    )
    m = docs.select(
        "doc_id",
        "source",
        F.length(t).cast("bigint").alias("n_total"),
        F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("bigint").alias(
            "n_alpha"
        ),
        F.length(F.regexp_replace(t, "[^0-9]", "")).cast("bigint").alias(
            "n_digit"
        ),
        (F.length(t) - F.length(F.regexp_replace(t, " ", "")))
        .cast("bigint")
        .alias("n_space"),
        F.length(F.regexp_replace(t, "[ -~]", "")).cast("bigint").alias(
            "n_nonascii"
        ),
    )
    return m.select(
        "doc_id",
        "source",
        "n_total",
        "n_alpha",
        "n_digit",
        "n_space",
        (
            F.col("n_total")
            - F.col("n_alpha")
            - F.col("n_digit")
            - F.col("n_space")
            - F.col("n_nonascii")
        ).alias("n_punct"),
        "n_nonascii",
        # greatest(1, ...) floors the EMPTY-document denominator — a bare
        # division is a DIVIDE_BY_ZERO job-kill under ANSI (panel find)
        F.round(
            F.col("n_alpha").cast("double")
            / F.greatest(F.lit(1), F.col("n_total")).cast("double"),
            9,
        ).alias("alpha_share"),
        F.round(
            F.col("n_nonascii").cast("double")
            / F.greatest(F.lit(1), F.col("n_total")).cast("double"),
            9,
        ).alias("nonascii_share"),
        F.when(F.col("n_nonascii") * 20 >= F.col("n_total"), "nonascii")
        .when(F.col("n_digit") > F.col("n_alpha"), "numeric")
        .otherwise("latin")
        .alias("script_class"),
    )


# --- llm_boilerplate_lines: cross-document repeated-line prevalence -------------

# The C4/RefinedWeb boilerplate pass: lines repeated across MANY
# documents (nav bars, footers, license blurbs) are template noise, not
# content — distinct from llm_line_dedup, which keeps first occurrences;
# this AUDITS prevalence so the cleaning threshold can be chosen. Lines
# are the same fixed 8-token windows line_dedup uses on this single-line
# corpus, plus one per-source footer line planted in-query (each source's
# docs share it — known ground truth). The exchange carries md5 digests,
# never line text.
_BOILER_MIN_DOCS = 5

_BOILER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk
  FROM documents
),
chunked AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
                               i -> array_to_string(tk[i*8+1 : i*8+8], ' ')))
           AS line
  FROM toks
  UNION ALL
  SELECT doc_id, source, 'footer of ' || source || ' all rights reserved'
  FROM toks
),
lines AS (SELECT doc_id, source, md5(line) AS digest FROM chunked),
prev AS (
  SELECT digest, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM lines GROUP BY digest
),
flagged AS (
  SELECT l.source, l.digest, p.n_docs >= {_BOILER_MIN_DOCS} AS is_boiler
  FROM lines l JOIN prev p ON p.digest = l.digest
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_lines,
       CAST(COUNT(DISTINCT CASE WHEN is_boiler THEN digest END) AS BIGINT)
         AS n_boiler_distinct,
       ROUND(CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS boiler_share
FROM flagged GROUP BY source
"""


@register("llm_boilerplate_lines", oracle=_BOILER_ORACLE, tags=("llm", "dedup"))
def llm_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line prevalence audit per source: fixed 8-token
    windows (the line_dedup convention on this single-line corpus)
    repeated in >= {n} distinct documents are template noise; the audit
    reports each source's boilerplate share so the cleaning threshold
    is chosen from data. A per-source footer line is planted in-query
    (deterministic, both engines) for known ground truth.

    Scale shape: chunking is map-local (transform over token arrays);
    the prevalence collapse and the flag join are keyed on md5(line) —
    32-byte digests, line text never shuffles; per-source shares are a
    second map-side-combined aggregate.""".format(n=_BOILER_MIN_DOCS)
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("tk"))
    chunk_expr = (
        "transform(sequence(0, cast(ceil(size(tk) / 8.0) as int) - 1), "
        "i -> array_join(slice(tk, i*8+1, 8), ' '))"
    )
    chunked = toks.select(
        "doc_id", "source", F.explode(F.expr(chunk_expr)).alias("line")
    ).unionAll(
        toks.select(
            "doc_id",
            "source",
            F.concat(
                F.lit("footer of "), F.col("source"), F.lit(" all rights reserved")
            ).alias("line"),
        )
    )
    lines = scoped_persist(
        chunked.select("doc_id", "source", F.md5("line").alias("digest"))
    )
    prev = lines.groupBy("digest").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    flagged = lines.join(prev, "digest").select(
        "source", "digest", (F.col("n_docs") >= _BOILER_MIN_DOCS).alias("is_boiler")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_boiler_lines"),
        F.countDistinct(F.when(F.col("is_boiler"), F.col("digest")))
        .cast("bigint")
        .alias("n_boiler_distinct"),
        F.round(
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("boiler_share"),
    )


# --- llm_fleiss_kappa: multi-rater agreement ------------------------------------

# llm_rater_kappa handles TWO raters (Cohen); production quality stacks
# run three or more gates, and Fleiss' kappa is the standard chance-
# corrected agreement for m raters. Raters are three deterministic
# integer-arithmetic gates per document (lexical diversity, length
# shape, vocabulary richness), so every per-item category count is an
# exact BIGINT and kappa's closing ratio divides exact operands.
_FLEISS_ORACLE = f"""
WITH m AS ({_GATE_STATS_DUCK}),
r AS (
  SELECT doc_id,
         CAST(CASE WHEN n_tok >= 20 AND n_uniq * 10 >= 3 * n_tok
                   THEN 1 ELSE 0 END
              + CASE WHEN n_chars >= 100 AND (n_chars - n_tok + 1) <= 8 * n_tok
                     THEN 1 ELSE 0 END
              + CASE WHEN n_uniq * 2 >= n_tok THEN 1 ELSE 0 END
              AS BIGINT) AS n_keep
  FROM m
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_keep) AS BIGINT) AS keep_votes,
         CAST(SUM(n_keep * n_keep + (3 - n_keep) * (3 - n_keep) - 3)
              AS BIGINT) AS pi_num
  FROM r
)
SELECT n, keep_votes,
       ROUND(CAST(pi_num AS DOUBLE) / (6.0 * CAST(n AS DOUBLE)), 9)
         AS p_observed,
       ROUND((CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
             * (CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
             + (1.0 - CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
               * (1.0 - CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE))),
             9) AS p_expected,
       ROUND((CAST(pi_num AS DOUBLE) / (6.0 * CAST(n AS DOUBLE))
              - ((CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                 * (CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                 + (1.0 - CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                   * (1.0 - CAST(keep_votes AS DOUBLE)
                      / (3.0 * CAST(n AS DOUBLE)))))
             / nullif(
                 1.0 - ((CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                       * (CAST(keep_votes AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                       + (1.0 - CAST(keep_votes AS DOUBLE)
                          / (3.0 * CAST(n AS DOUBLE)))
                         * (1.0 - CAST(keep_votes AS DOUBLE)
                            / (3.0 * CAST(n AS DOUBLE)))), 0.0), 9)
           AS fleiss_kappa
FROM c
"""


@register("llm_fleiss_kappa", oracle=_FLEISS_ORACLE, tags=("llm", "stats"))
def llm_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over THREE deterministic quality gates (lexical
    diversity, length shape, vocabulary richness) — the m-rater
    chance-corrected agreement a production quality stack reports where
    Cohen's (llm_rater_kappa) stops at two raters. Binary categories:
    per-item agreement P_i = (n1^2 + n0^2 - m)/(m(m-1)) with m=3.

    Scale shape: the three gates are row-local integer arithmetic; ONE
    map-side-combined global collapse produces (n, keep_votes, pi_num)
    exact BIGINT cells; kappa is one shared closing expression over
    exact ratios (ROUND(9))."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_chars = F.length("text")
    ra = F.when((n_tok >= 20) & (n_uniq * 10 >= 3 * n_tok), 1).otherwise(0)
    rb = F.when(
        (n_chars >= 100) & ((n_chars - n_tok + 1) <= 8 * n_tok), 1
    ).otherwise(0)
    rc = F.when(n_uniq * 2 >= n_tok, 1).otherwise(0)
    r = docs.select((ra + rb + rc).cast("bigint").alias("n_keep"))
    c = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_keep").cast("bigint").alias("keep_votes"),
        F.sum(
            F.col("n_keep") * F.col("n_keep")
            + (F.lit(3) - F.col("n_keep")) * (F.lit(3) - F.col("n_keep"))
            - 3
        )
        .cast("bigint")
        .alias("pi_num"),
    )
    nd = F.col("n").cast("double")
    p1 = F.col("keep_votes").cast("double") / (3.0 * nd)
    p_obs = F.col("pi_num").cast("double") / (6.0 * nd)
    p_exp = p1 * p1 + (1.0 - p1) * (1.0 - p1)
    return c.select(
        "n",
        "keep_votes",
        F.round(p_obs, 9).alias("p_observed"),
        F.round(p_exp, 9).alias("p_expected"),
        # nullif: unanimous raters on every doc drive p_exp to 1.0 —
        # kappa goes NULL in both engines rather than ANSI
        # DIVIDE_BY_ZERO on the Spark side (ADVICE r9).
        F.round(
            (p_obs - p_exp) / F.nullif(F.lit(1.0) - p_exp, F.lit(0.0)), 9
        ).alias("fleiss_kappa"),
    )


# --- llm_curriculum_phase: tertile curriculum bucketing --------------------------

# Curriculum training feeds easy documents first; the assignment step
# buckets the corpus by a difficulty proxy into ordered phases. Phase
# boundaries are EXACT tertile order statistics over the token-count
# grain, recovered with the distributed two-level prefix scan (the
# agg_tail_contrib pattern — no single-partition window touches the
# score grain), and ties stay together (threshold semantics, so a
# boundary can't split equal-difficulty docs across phases).
_CURRICULUM_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS score
  FROM documents WHERE text IS NOT NULL
),
cells AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY score
),
cum AS (
  SELECT score, SUM(cnt) OVER (ORDER BY score) AS c, SUM(cnt) OVER () AS n
  FROM cells
),
thr AS (
  SELECT CAST(MIN(CASE WHEN c >= (n + 2) // 3 THEN score END) AS BIGINT) AS t1,
         CAST(MIN(CASE WHEN c >= (2 * n + 2) // 3 THEN score END) AS BIGINT)
           AS t2
  FROM cum
),
p AS (
  SELECT CASE WHEN d.score <= t.t1 THEN 'phase1'
              WHEN d.score <= t.t2 THEN 'phase2'
              ELSE 'phase3' END AS phase,
         d.score
  FROM d CROSS JOIN thr t
)
SELECT phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS total_tokens,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(MAX(score) AS BIGINT) AS max_score
FROM p GROUP BY phase
"""


@register("llm_curriculum_phase", oracle=_CURRICULUM_ORACLE, tags=("llm", "text"))
def llm_curriculum_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: documents split into three ordered training
    phases at exact tertile boundaries of the difficulty proxy (token
    count), ties kept together — the assignment step before a
    curriculum-ordered training run.

    Scale shape: the corpus collapses to score-grain cells; the tertile
    thresholds come from the DISTRIBUTED two-level prefix scan (range
    partition + rid-local sums + prior broadcast — agg_tail_contrib's
    treatment; no single-partition window on the score grain); the
    1-row threshold table broadcasts back into one map-side-combined
    phase aggregate."""
    # NULL text is untrainable and would also sort differently in the two
    # engines' cumulative windows (Spark NULLS FIRST vs DuckDB NULLS LAST,
    # shifting every tertile threshold — adversarial-panel find)
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("score")
    )
    cells = d.groupBy("score").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ranged = scoped_persist(
        cells.repartitionByRange(8, "score").withColumn(
            "rid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("rid")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("lcum", F.sum("cnt").over(w_local))
    rtot = ranged.groupBy("rid").agg(F.sum("cnt").alias("rtot"))
    w_prior = Window.orderBy("rid").rowsBetween(Window.unboundedPreceding, -1)
    prior = rtot.select("rid", F.sum("rtot").over(w_prior).alias("prior"))
    n_tot = ranged.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = (
        local.join(F.broadcast(prior), "rid")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "score",
            (F.col("lcum") + F.coalesce(F.col("prior"), F.lit(0))).alias("c"),
            "n",
        )
    )
    thr = cum.agg(
        F.min(
            F.when(F.col("c") >= F.floor((F.col("n") + 2) / 3), F.col("score"))
        )
        .cast("bigint")
        .alias("t1"),
        F.min(
            F.when(
                F.col("c") >= F.floor((2 * F.col("n") + 2) / 3), F.col("score")
            )
        )
        .cast("bigint")
        .alias("t2"),
    )
    p = d.crossJoin(F.broadcast(thr)).select(
        F.when(F.col("score") <= F.col("t1"), "phase1")
        .when(F.col("score") <= F.col("t2"), "phase2")
        .otherwise("phase3")
        .alias("phase"),
        "score",
    )
    return p.groupBy("phase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("score").cast("bigint").alias("total_tokens"),
        F.min("score").cast("bigint").alias("min_score"),
        F.max("score").cast("bigint").alias("max_score"),
    )


# --- llm_dp_count: differentially-private release counts --------------------------

# Publishing a dataset card with per-source document counts can leak
# membership; the epsilon-DP answer adds Laplace(sensitivity/epsilon)
# noise. At 100 TB the noise draw must be REPRODUCIBLE across retries
# and engines, so it derives from the f_hash_rng primitive: a 56-bit
# md5 slice of the source key -> uniform u in (0,1] -> inverse-CDF
# Laplace (ln(2u) below the median, -ln(2(1-u)) above). One libm call
# per SOURCE (bounded), under ROUND(9); the greatest() floor guards the
# measure-zero u=1 edge identically in both engines.
_DP_EPS = "1.0"
_DP_SCALE = 72057594037927936  # 2^56, the f_hash_rng uniform scale

_DP_COUNT_ORACLE = f"""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
h AS (
  SELECT source, n_docs,
         (CAST(('0x' || substring(md5('dp|' || source), 1, 14)) AS BIGINT)
          + 1.0) / {_DP_SCALE}.0 AS u
  FROM g
),
nz AS (
  SELECT source, n_docs, u,
         CASE WHEN u < 0.5
              THEN ln(greatest(2.0 * u, power(2.0, -56.0))) / {_DP_EPS}
              ELSE -ln(greatest(2.0 * (1.0 - u), power(2.0, -56.0)))
                   / {_DP_EPS} END AS noise
  FROM h
)
SELECT source, n_docs, ROUND(noise, 9) AS noise,
       ROUND(CAST(n_docs AS DOUBLE) + noise, 9) AS dp_count,
       {_DP_EPS} AS epsilon
FROM nz
"""


@register("llm_dp_count", oracle=_DP_COUNT_ORACLE, tags=("llm", "privacy"))
def llm_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-differentially-private per-source document counts
    (Laplace mechanism, sensitivity 1, epsilon 1.0) with the noise draw
    derived DETERMINISTICALLY from a content hash of the source key —
    reproducible across engines, retries, and partitionings, unlike
    rand()-based noise. A production release drops the raw n_docs
    column; it stays here so the driver can verify the mechanism.

    Scale shape: ONE map-side-combined count collapse to the |sources|
    grain; hashing, the inverse-CDF Laplace transform, and the noisy
    sum are row-local on that bounded table (one md5 + one ln per
    source, ROUND(9) for the libm ulp; greatest() floors the u=1
    edge)."""
    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    u = (
        F.expr(
            "cast(conv(substring(md5(concat('dp|', source)), 1, 14), 16, 10)"
            " as bigint)"
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_DP_SCALE))
    eps = float(_DP_EPS)
    floor_arg = F.lit(float(2.0**-56))
    noise = F.when(
        u < 0.5, F.log(F.greatest(F.lit(2.0) * u, floor_arg)) / F.lit(eps)
    ).otherwise(
        -F.log(F.greatest(F.lit(2.0) * (F.lit(1.0) - u), floor_arg)) / F.lit(eps)
    )
    return g.select(
        "source",
        "n_docs",
        F.round(noise, 9).alias("noise"),
        F.round(F.col("n_docs").cast("double") + noise, 9).alias("dp_count"),
        F.lit(eps).alias("epsilon"),
    )


# --- llm_epoch_plan: capped-epoch token-budget allocation --------------------------

# Planning a pretraining mix is a waterfilling problem: give each source
# training tokens proportional to its quality-weighted size, but never
# more than MAX_EPOCHS passes over its data (repetition hurts past a few
# epochs). The weight avail * (distinct-tokens / tokens) collapses to the
# SUM OF PER-DOC DISTINCT-TOKEN COUNTS — an exact BIGINT — so the
# proportional shares divide exact integers; the single cap-and-
#-redistribute pass quantizes its overflow micro-exactly before the
# bounded re-sum (order-free), and a terminal min() re-caps any source
# the redistribution itself pushed over.
_EPOCH_TARGET_X = "2.0"  # train 2x the corpus token count
_EPOCH_CAP = "3.0"  # no source repeats more than 3 epochs

_EPOCH_PLAN_ORACLE = f"""
WITH d AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS avail,
         CAST(SUM(n_uniq) AS BIGINT) AS w
  FROM d GROUP BY source
),
t AS (
  SELECT CAST(SUM(avail) AS BIGINT) AS avail_all,
         CAST(SUM(w) AS BIGINT) AS w_all
  FROM g
),
p1 AS (
  SELECT g.source, g.avail, g.w, t.avail_all, t.w_all,
         {_EPOCH_TARGET_X} * CAST(t.avail_all AS DOUBLE)
           * CAST(g.w AS DOUBLE) / CAST(t.w_all AS DOUBLE) AS ideal,
         {_EPOCH_CAP} * CAST(g.avail AS DOUBLE) AS cap_tokens
  FROM g CROSS JOIN t
),
ex AS (
  SELECT CAST(SUM(CAST(floor(greatest(ideal - cap_tokens, 0.0) * 1000000.0
                             + 0.5) AS BIGINT)) AS BIGINT) AS excess_micro,
         CAST(SUM(CASE WHEN ideal < cap_tokens THEN w ELSE 0 END) AS BIGINT)
           AS w_open
  FROM p1
),
p2 AS (
  SELECT p1.source, p1.avail, p1.w, p1.ideal, p1.cap_tokens,
         CASE WHEN p1.ideal >= p1.cap_tokens THEN p1.cap_tokens
              ELSE least(p1.cap_tokens,
                         p1.ideal
                         + (CAST(e.excess_micro AS DOUBLE) / 1000000.0)
                           * CAST(p1.w AS DOUBLE)
                           / nullif(CAST(e.w_open AS DOUBLE), 0.0)) END
           AS alloc
  FROM p1 CROSS JOIN ex e
)
SELECT source, avail AS avail_tokens, w AS weight,
       ROUND(ideal, 9) AS ideal_tokens,
       ROUND(alloc, 9) AS alloc_tokens,
       ROUND(alloc / CAST(avail AS DOUBLE), 9) AS epochs,
       ideal >= cap_tokens AS capped
FROM p2
"""


@register("llm_epoch_plan", oracle=_EPOCH_PLAN_ORACLE, tags=("llm", "text"))
def llm_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining token-budget plan: allocate a 2x-corpus training
    budget across sources proportional to quality-weighted size (weight
    = sum of per-doc distinct-token counts), cap every source at 3
    epochs, and redistribute the capped overflow to open sources in one
    deterministic pass — the data-mixing step between llm_domain_mix's
    measurement and llm_seq_pack's consumption.

    Scale shape: per-doc token stats are row-local; ONE map-side-
    combined collapse to the |sources| grain; totals broadcast back;
    the cap/redistribute algebra is row-local on the bounded source
    table, with the overflow micro-quantized to an exact integer before
    its order-free fold. Exact-integer weights (avail * uniq/tok =
    sum-of-uniq) keep every proportional share a two-exact-operand
    division."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    g = docs.groupBy("source").agg(
        F.sum(F.size(toks)).cast("bigint").alias("avail"),
        F.sum(F.size(F.array_distinct(toks))).cast("bigint").alias("w"),
    )
    g = scoped_persist(g)
    t = g.agg(
        F.sum("avail").cast("bigint").alias("avail_all"),
        F.sum("w").cast("bigint").alias("w_all"),
    )
    target_x, cap = float(_EPOCH_TARGET_X), float(_EPOCH_CAP)
    p1 = g.crossJoin(F.broadcast(t)).select(
        "source",
        "avail",
        "w",
        (
            F.lit(target_x)
            * F.col("avail_all").cast("double")
            * F.col("w").cast("double")
            / F.col("w_all").cast("double")
        ).alias("ideal"),
        (F.lit(cap) * F.col("avail").cast("double")).alias("cap_tokens"),
    )
    p1 = scoped_persist(p1)
    ex = p1.agg(
        F.sum(
            F.floor(
                F.greatest(F.col("ideal") - F.col("cap_tokens"), F.lit(0.0))
                * 1000000.0
                + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("excess_micro"),
        F.sum(
            F.when(F.col("ideal") < F.col("cap_tokens"), F.col("w")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("w_open"),
    )
    alloc = F.when(
        F.col("ideal") >= F.col("cap_tokens"), F.col("cap_tokens")
    ).otherwise(
        F.least(
            F.col("cap_tokens"),
            F.col("ideal")
            + (F.col("excess_micro").cast("double") / F.lit(1000000.0))
            * F.col("w").cast("double")
            / F.nullif(F.col("w_open").cast("double"), F.lit(0.0)),
        )
    )
    return p1.crossJoin(F.broadcast(ex)).select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.col("w").alias("weight"),
        F.round(F.col("ideal"), 9).alias("ideal_tokens"),
        F.round(alloc, 9).alias("alloc_tokens"),
        F.round(alloc / F.col("avail").cast("double"), 9).alias("epochs"),
        (F.col("ideal") >= F.col("cap_tokens")).alias("capped"),
    )


# --- llm_ece: expected calibration error of a quality-classifier score ----------

# Every learned quality/toxicity filter in a data pipeline emits a
# confidence; ECE is the standard audit of whether those confidences
# MEAN anything (a 0.9-bin should be right 90% of the time). Here the
# "classifier" is the deterministic stopword-ratio score (the
# llm_quality_score feature) predicting the is-English label, binned
# into 10 equal-width reliability buckets. Everything stays exact
# integers until the final per-bin divisions: confidence is micro-
# quantized by INTEGER division (never a double x10 floor — the
# f_hash_rng lesson), so bin assignment, bin counts, label sums and
# confidence sums are all engine- and partitioning-exact.
_ECE_ORACLE = """
WITH conf AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         (len(list_filter(string_split(text, ' '),
              t -> list_contains(['the', 'a', 'of', 'and', 'is'], t)))
          * 1000000) // len(string_split(text, ' ')) AS conf_micro
  FROM documents WHERE text IS NOT NULL
),
bins AS (
  SELECT least(conf_micro // 100000, 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         CAST(SUM(conf_micro) AS BIGINT) AS sum_conf
  FROM conf GROUP BY 1
),
tot AS (SELECT SUM(n_docs) AS n_total FROM bins)
SELECT bin, n_docs,
       ROUND(CAST(n_pos AS DOUBLE) / n_docs, 9) AS accuracy,
       ROUND(CAST(sum_conf AS DOUBLE) / n_docs / 1e6, 9) AS avg_confidence,
       ROUND(abs(CAST(n_pos AS DOUBLE) / n_docs
                 - CAST(sum_conf AS DOUBLE) / n_docs / 1e6), 9) AS gap,
       ROUND(SUM(abs(CAST(n_pos AS DOUBLE)
                     - CAST(sum_conf AS DOUBLE) / 1e6)) OVER ()
             / CAST((SELECT n_total FROM tot) AS DOUBLE), 9) AS ece
FROM bins
"""


@register("llm_ece", oracle=_ECE_ORACLE, tags=("llm", "text", "quality"))
def llm_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error: reliability-diagram bins (accuracy vs
    mean confidence per decile bucket) plus the corpus ECE, for the
    deterministic stopword-ratio score predicting lang='en' — the
    classifier-confidence audit llm_quality_classifier's hard labels
    can't give (north-star eval family).

    Scale shape: one map-side collapse of the corpus to 10 bin cells
    (counts, label sums, micro-quantized confidence sums — all exact
    BIGINTs; bin assignment by INTEGER division, never a double x10
    floor). The reliability columns and the windowed ECE fold ride the
    10-row cell table."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    conf = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.expr(
            "size(filter(split(text, ' '), t -> array_contains("
            "array('the', 'a', 'of', 'and', 'is'), t))) * 1000000 "
            "div size(split(text, ' '))"
        ).alias("conf_micro"),
    )
    bins = conf.groupBy(
        F.least(F.expr("conf_micro div 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("label").cast("bigint").alias("n_pos"),
        F.sum("conf_micro").cast("bigint").alias("sum_conf"),
    )
    w_all = Window.partitionBy()
    acc = F.col("n_pos").cast("double") / F.col("n_docs")
    avg_conf = F.col("sum_conf").cast("double") / F.col("n_docs") / F.lit(1e6)
    return bins.select(
        "bin",
        "n_docs",
        F.round(acc, 9).alias("accuracy"),
        F.round(avg_conf, 9).alias("avg_confidence"),
        F.round(F.abs(acc - avg_conf), 9).alias("gap"),
        F.round(
            F.sum(
                F.abs(
                    F.col("n_pos").cast("double")
                    - F.col("sum_conf").cast("double") / F.lit(1e6)
                )
            ).over(w_all)
            / F.sum(F.col("n_docs")).over(w_all).cast("double"),
            9,
        ).alias("ece"),
    )


# --- llm_filter_funnel: quality-filter ablation waterfall -----------------------

# Corpus curation is a FILTER CHAIN, and the number every pipeline owner
# asks for is the waterfall: how many documents does each gate reject
# alone, how many does it reject MARGINALLY (among survivors of the
# gates before it), and how many survive each stage — the ablation that
# tells you which filter is load-bearing and which is redundant (e.g.
# Gopher/C4 rule stacks are reported exactly this way). One corpus pass
# computes all gate flags from exact integer counts (cross-multiplied
# thresholds, no double ratios), one map-side collapse produces the
# per-stage sums, and the 4-stage waterfall is a stack over that one
# row — the corpus is never re-scanned per filter.
_FILTER_FUNNEL_ORACLE = """
WITH m AS (
  SELECT len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the', 'a', 'of', 'and', 'is'], t))) AS n_stop,
         length(text) AS n_chars
  FROM documents WHERE text IS NOT NULL
),
flags AS (
  SELECT CASE WHEN n_chars BETWEEN 200 AND 20000 THEN 1 ELSE 0 END AS f1,
         CASE WHEN 3 * n_tok <= n_chars - n_tok + 1
                   AND n_chars - n_tok + 1 <= 12 * n_tok THEN 1 ELSE 0 END AS f2,
         CASE WHEN 10 * n_uniq >= 3 * n_tok THEN 1 ELSE 0 END AS f3,
         CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS f4
  FROM m
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
         CAST(SUM(1 - f1) AS BIGINT) AS alone1,
         CAST(SUM(1 - f2) AS BIGINT) AS alone2,
         CAST(SUM(1 - f3) AS BIGINT) AS alone3,
         CAST(SUM(1 - f4) AS BIGINT) AS alone4,
         CAST(SUM(f1) AS BIGINT) AS surv1,
         CAST(SUM(f1 * f2) AS BIGINT) AS surv2,
         CAST(SUM(f1 * f2 * f3) AS BIGINT) AS surv3,
         CAST(SUM(f1 * f2 * f3 * f4) AS BIGINT) AS surv4
  FROM flags
)
SELECT * FROM (
  SELECT 1 AS stage, 'len_200_20000' AS filter_name, alone1 AS fail_alone,
         n_in - surv1 AS fail_marginal, surv1 AS survivors,
         ROUND(CAST(surv1 AS DOUBLE) / n_in, 9) AS survival_rate
  FROM agg
  UNION ALL
  SELECT 2, 'avg_tok_len_3_12', alone2, surv1 - surv2, surv2,
         ROUND(CAST(surv2 AS DOUBLE) / n_in, 9) FROM agg
  UNION ALL
  SELECT 3, 'ttr_ge_0.3', alone3, surv2 - surv3, surv3,
         ROUND(CAST(surv3 AS DOUBLE) / n_in, 9) FROM agg
  UNION ALL
  SELECT 4, 'stopword_ge_1', alone4, surv3 - surv4, surv4,
         ROUND(CAST(surv4 AS DOUBLE) / n_in, 9) FROM agg
) t
"""


@register("llm_filter_funnel", oracle=_FILTER_FUNNEL_ORACLE, tags=("llm", "text", "quality"))
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation waterfall over the C4/Gopher-style gate
    chain (length band -> mean-token-length band -> type-token ratio ->
    stopword presence): per stage, the documents the gate rejects ALONE,
    rejects MARGINALLY (among survivors of earlier gates), survivors,
    and the cumulative survival rate.

    Scale shape: ONE corpus pass computes all four gate flags from
    exact integer counts (thresholds cross-multiplied — no double
    ratios anywhere), one map-side collapse reduces the corpus to a
    single 9-counter row, and the 4-stage waterfall is a per-row stack
    of that row. Adding a fifth gate costs one flag column, never
    another scan."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(w) for w in _PROFILES["en"]])
    m = docs.select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        .cast("long")
        .alias("n_stop"),
        F.length("text").cast("long").alias("n_chars"),
    )
    atl = F.col("n_chars") - F.col("n_tok") + 1
    flags = m.select(
        F.when(
            (F.col("n_chars") >= 200) & (F.col("n_chars") <= 20000), 1
        ).otherwise(0).alias("f1"),
        F.when(
            (F.lit(3) * F.col("n_tok") <= atl) & (atl <= F.lit(12) * F.col("n_tok")),
            1,
        ).otherwise(0).alias("f2"),
        F.when(F.lit(10) * F.col("n_uniq") >= F.lit(3) * F.col("n_tok"), 1)
        .otherwise(0)
        .alias("f3"),
        F.when(F.col("n_stop") >= 1, 1).otherwise(0).alias("f4"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.sum(1 - F.col("f1")).cast("bigint").alias("alone1"),
        F.sum(1 - F.col("f2")).cast("bigint").alias("alone2"),
        F.sum(1 - F.col("f3")).cast("bigint").alias("alone3"),
        F.sum(1 - F.col("f4")).cast("bigint").alias("alone4"),
        F.sum("f1").cast("bigint").alias("surv1"),
        F.sum(F.col("f1") * F.col("f2")).cast("bigint").alias("surv2"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3")).cast("bigint").alias("surv3"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3") * F.col("f4"))
        .cast("bigint")
        .alias("surv4"),
    )
    return agg.selectExpr(
        """stack(4,
             1, 'len_200_20000',    alone1, n_in  - surv1, surv1,
             2, 'avg_tok_len_3_12', alone2, surv1 - surv2, surv2,
             3, 'ttr_ge_0.3',       alone3, surv2 - surv3, surv3,
             4, 'stopword_ge_1',    alone4, surv3 - surv4, surv4
           ) AS (stage, filter_name, fail_alone, fail_marginal, survivors)""",
        "n_in",
    ).selectExpr(
        "stage",
        "filter_name",
        "fail_alone",
        "fail_marginal",
        "survivors",
        "round(cast(survivors as double) / n_in, 9) AS survival_rate",
    )
