"""Scalar-function operators (SURVEY.md §2.F).

The reference's helper functions are its de-facto UDF surface
(`_parse_dt` main.py:60-72, `_haversine_m` main.py:75-86, lowercase
main.py:159, coalesce chains main.py:160/223/233/256, int casts
main.py:234-237, strftime main.py:284, f-strings main.py:223/285,
JSON access main.py:93-94/136-137, explode loops main.py:153/231,
sensor_map build main.py:158-161, min-clamp main.py:85).

Every one compiles to built-in Catalyst expressions here — zero Python in
the hot path, full whole-stage codegen, trivially parallel at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.geo import HAVERSINE_SQL, SYNTH_LAT_SQL, SYNTH_LON_SQL, haversine_m, synthetic_lat, synthetic_lon
from ..registry import register
from ..tables import rebalance_for_map, table

# --- f_parse_ts -------------------------------------------------------------

_F_PARSE_TS_ORACLE = """
SELECT event_id,
       TRY_CAST(replace(s, 'Z', '') AS TIMESTAMP) AS parsed,
       TRY_CAST(replace(s, 'Z', '') AS TIMESTAMP) IS NOT NULL AS valid
FROM (
  SELECT event_id,
         CASE WHEN event_id % 5 = 0 THEN 'not-a-timestamp'
              ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' END AS s
  FROM events
)
"""


@register("f_parse_ts", oracle=_F_PARSE_TS_ORACLE, tags=("function",))
def f_parse_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 parse with Z-normalization and null-on-error (the
    reference's `_parse_dt`, main.py:60-72): strings (some invalid) →
    TRY_CAST to timestamp after stripping the Z suffix."""
    ev = table(spark, sf_dir, "events")
    s = F.when(F.col("event_id") % 5 == 0, F.lit("not-a-timestamp")).otherwise(
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z"))
    )
    parsed = F.expr("try_cast(replace(s, 'Z', '') AS timestamp_ntz)")
    return (
        ev.withColumn("s", s)
        .select(
            "event_id",
            parsed.alias("parsed"),
            parsed.isNotNull().alias("valid"),
        )
    )


# --- f_haversine ------------------------------------------------------------

_PART_DIST = HAVERSINE_SQL.format(
    lat1=SYNTH_LAT_SQL.format(key="p_partkey"),
    lon1=SYNTH_LON_SQL.format(key="p_partkey"),
    lat2="40.7128",
    lon2="-74.006",
)

_F_HAVERSINE_ORACLE = f"""
SELECT p_partkey, ROUND({_PART_DIST}, 0) AS dist_m FROM part
"""


@register("f_haversine", oracle=_F_HAVERSINE_ORACLE, tags=("function", "geo"))
def f_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance as a pure column expression (reference
    `_haversine_m`, main.py:75-86) — rounded to whole meters because libm
    trig differs in the last ulp across engines."""
    part = table(spark, sf_dir, "part")
    dist = haversine_m(
        synthetic_lat(F.col("p_partkey")),
        synthetic_lon(F.col("p_partkey")),
        F.lit(40.7128),
        F.lit(-74.006),
    )
    return part.select("p_partkey", F.round(dist, 0).alias("dist_m"))


# --- f_lower ----------------------------------------------------------------

_F_LOWER_ORACLE = """
SELECT doc_id, lower(source) AS src_lower, upper(lang) AS lang_upper,
       trim('  ' || source || ' ') AS trimmed, length(text) AS text_len,
       substring(text, 1, 10) AS head10
FROM documents
"""


@register("f_lower", oracle=_F_LOWER_ORACLE, tags=("function",))
def f_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String normalization (the reference lowercases parameter names,
    main.py:159): lower/upper/trim/length/substring."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.lower("source").alias("src_lower"),
        F.upper("lang").alias("lang_upper"),
        F.trim(F.concat(F.lit("  "), F.col("source"), F.lit(" "))).alias("trimmed"),
        F.length("text").alias("text_len"),
        F.substring("text", 1, 10).alias("head10"),
    )


# --- f_coalesce -------------------------------------------------------------

_F_COALESCE_ORACLE = """
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'id:' || CAST(c_custkey AS VARCHAR)) AS resolved_name,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), NULLIF(c_mktsegment, 'AUTOMOBILE'), '') AS unit
FROM customer
"""


@register("f_coalesce", oracle=_F_COALESCE_ORACLE, tags=("function",))
def f_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-non-null fallback chains (the reference's `or`-chains for unit,
    name and date fields, main.py:160, 223, 233, 256), incl. the formatted
    `id:{id}` last resort of main.py:223."""
    cust = table(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(seg, F.lit("BUILDING")),
            F.concat(F.lit("id:"), F.col("c_custkey").cast("string")),
        ).alias("resolved_name"),
        F.coalesce(
            F.nullif(seg, F.lit("BUILDING")),
            F.nullif(seg, F.lit("AUTOMOBILE")),
            F.lit(""),
        ).alias("unit"),
    )


# --- f_cast_int -------------------------------------------------------------

_F_CAST_INT_ORACLE = """
SELECT event_id, TRY_CAST(s AS BIGINT) AS sid
FROM (
  SELECT event_id,
         CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS VARCHAR) ELSE event_type END AS s
  FROM events
)
"""


@register("f_cast_int", oracle=_F_CAST_INT_ORACLE, tags=("function",))
def f_cast_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int cast with null-on-failure (the reference's int(sid) try/except,
    main.py:234-237) — TRY_CAST keeps it ANSI-safe."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "s",
            F.when(F.col("event_id") % 2 == 0, F.col("user_id").cast("string")).otherwise(
                F.col("event_type")
            ),
        )
        .select("event_id", F.expr("try_cast(s AS bigint)").alias("sid"))
    )


# --- f_fmt_ts ---------------------------------------------------------------

_F_FMT_TS_ORACLE = """
SELECT event_id,
       strftime(ts, '%Y%m%d_%H%M%S') AS fname_ts,
       CAST(year(ts) AS BIGINT) AS y,
       CAST(month(ts) AS BIGINT) AS m,
       date_trunc('day', ts) AS day_ts
FROM events
"""


@register("f_fmt_ts", oracle=_F_FMT_TS_ORACLE, tags=("function",))
def f_fmt_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp → string formatting (the reference's strftime filename,
    main.py:284) plus calendar extraction and truncation."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd_HHmmss").alias("fname_ts"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
    )


# --- f_interp ---------------------------------------------------------------

_F_INTERP_ORACLE = """
SELECT doc_id,
       printf('%s/%s-%04d', source, lang, doc_id % 1000) AS path,
       source || ':' || lang AS tag
FROM documents
"""


@register("f_interp", oracle=_F_INTERP_ORACLE, tags=("function",))
def f_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String interpolation (the reference's f-strings for names/paths,
    main.py:223, 285, 305): format_string + concat."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.format_string("%s/%s-%04d", F.col("source"), F.col("lang"), F.col("doc_id") % 1000).alias("path"),
        F.concat_ws(":", "source", "lang").alias("tag"),
    )


# --- f_json_get -------------------------------------------------------------

_F_JSON_GET_ORACLE = """
SELECT event_id,
       TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k,
       regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS k_str
FROM events
"""


@register("f_json_get", oracle=_F_JSON_GET_ORACLE, tags=("function",))
def f_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc JSON field access (the reference's .get() chains into parsed
    payloads, main.py:93-94, 136-137): get_json_object on the raw string.
    The oracle extracts the same field with a regex, so no DuckDB JSON
    extension is assumed."""
    ev = table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k_str.cast("long").alias("k"),
        k_str.alias("k_str"),
    )


# --- f_explode --------------------------------------------------------------

_F_EXPLODE_ORACLE = """
SELECT doc_id, CAST(i - 1 AS INT) AS pos, string_split(text, ' ')[i] AS token
FROM documents,
     UNNEST(range(1, least(5, len(string_split(text, ' '))) + 1)) AS t(i)
"""


@register("f_explode", oracle=_F_EXPLODE_ORACLE, tags=("function",))
def f_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array flatten with position (the reference's for-loops over nested
    sensor/measurement arrays, main.py:153, 231): split → slice → posexplode."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, 5)).alias("pos", "token"),
    )


# --- f_map_build ------------------------------------------------------------

_F_MAP_BUILD_ORACLE = """
SELECT user_id,
       -- CAST: DuckDB SUM yields HUGEINT (→ pandas float64); Spark emits BIGINT
       CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END), 0) AS BIGINT) AS error_cnt,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 0) AS BIGINT) AS purchase_cnt
FROM events GROUP BY user_id
"""


@register("f_map_build", oracle=_F_MAP_BUILD_ORACLE, tags=("function",))
def f_map_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + keyed lookup (the reference's sensor_map dict,
    main.py:158-161): per-user map<event_type, count> built with
    map_from_entries, then element_at probes — the declarative dict."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    with_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("m")
    )
    return with_map.select(
        "user_id",
        F.coalesce(F.element_at("m", "error"), F.lit(0)).cast("long").alias("error_cnt"),
        F.coalesce(F.element_at("m", "purchase"), F.lit(0)).cast("long").alias("purchase_cnt"),
    )


# --- f_least ----------------------------------------------------------------

_F_LEAST_ORACLE = """
SELECT l_orderkey, l_linenumber,
       least(1.0, sqrt(l_discount)) AS clamped,
       least(l_discount, l_tax) AS lo,
       greatest(l_discount, l_tax) AS hi
FROM lineitem
"""


@register("f_least", oracle=_F_LEAST_ORACLE, tags=("function",))
def f_least(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric clamp via least/greatest (the reference's min(1, √a),
    main.py:85). sqrt is IEEE correctly-rounded, so no rounding is needed —
    unlike trig, results are bit-identical across engines."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.lit(1.0), F.sqrt("l_discount")).alias("clamped"),
        F.least("l_discount", "l_tax").alias("lo"),
        F.greatest("l_discount", "l_tax").alias("hi"),
    )


# --- f_trig -----------------------------------------------------------------

_F_TRIG_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ROUND(sin(radians(l_quantity * 3.0)), 9) AS s,
       ROUND(cos(radians(l_quantity * 3.0)), 9) AS c,
       ROUND(asin(l_discount), 9) AS a,
       pow(l_quantity, 2.0) AS q2
FROM lineitem
"""


@register("f_trig", oracle=_F_TRIG_ORACLE, tags=("function",))
def f_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/power built-ins (the haversine internals, main.py:81-85).
    Trig rounded to 9 decimals: java.lang.Math vs C libm differ in the final
    ulp. pow with integral exponents is exact, so it is left unrounded."""
    li = table(spark, sf_dir, "lineitem")
    rad = F.radians(F.col("l_quantity") * 3.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin(rad), 9).alias("s"),
        F.round(F.cos(rad), 9).alias("c"),
        F.round(F.asin("l_discount"), 9).alias("a"),
        F.pow("l_quantity", F.lit(2.0)).alias("q2"),
    )


# --- f_url_parse --------------------------------------------------------------

# The reference builds and consumes REST URLs (main.py:45-57 constructs the
# paginated OpenAQ endpoint; the sensor pages embed location refs). A
# general engine needs the inverse: pull host/path/query components out of
# a URL column. The URL here is synthesized deterministically from fixture
# columns (no fixture table carries URLs), which also makes the parse
# oracle-checkable; Spark's parse_url is the java.net-backed builtin, the
# DuckDB oracle re-derives the identical components with split_part.
_URL_EXPR_SPARK = (
    "concat('https://', source, '.example.com/docs/', cast(doc_id as string),"
    " '?lang=', lang, '&v=2')"
)
_URL_EXPR_DUCK = (
    "'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)"
    " || '?lang=' || lang || '&v=2'"
)

_F_URL_PARSE_ORACLE = f"""
WITH u AS (SELECT doc_id, {_URL_EXPR_DUCK} AS url FROM documents)
SELECT doc_id, url,
       split_part(split_part(url, '://', 2), '/', 1) AS host,
       '/' || split_part(split_part(split_part(url, '://', 2), '?', 1), '/', 2)
           || '/' || split_part(split_part(split_part(url, '://', 2), '?', 1), '/', 3)
           AS path,
       split_part(url, '?', 2) AS query,
       split_part(split_part(url, 'lang=', 2), '&', 1) AS lang_param
FROM u
"""


@register("f_url_parse", oracle=_F_URL_PARSE_ORACLE, tags=("function",))
def f_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with the ``parse_url`` builtin: HOST, PATH,
    QUERY, and a single query parameter — all JVM-side string ops in one
    codegen stage, zero shuffles, embarrassingly parallel at any scale.
    The oracle rebuilds the same components with portable string splits,
    proving the builtin's semantics on this URL shape rather than assuming
    them."""
    docs = table(spark, sf_dir, "documents")
    u = docs.select("doc_id", F.expr(_URL_EXPR_SPARK).alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY')").alias("query"),
        F.expr("parse_url(url, 'QUERY', 'lang')").alias("lang_param"),
    )


# --- f_date_arith: date/interval arithmetic breadth --------------------------

_F_DATE_ARITH_ORACLE = """
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
       strftime(CAST(o_orderdate + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS due_date,
       strftime(CAST(date_trunc('quarter', o_orderdate) AS DATE), '%Y-%m-%d') AS quarter_start,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
         AS days_since_epoch_start,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
       CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow
FROM orders
WHERE o_orderkey % 100 = 0
"""


@register("f_date_arith", oracle=_F_DATE_ARITH_ORACLE, tags=("function",))
def f_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic breadth (SURVEY §2.F): +INTERVAL, quarter
    truncation, last_day, day difference, quarter/day-of-week extraction —
    each a codegen'd JVM expression, zero shuffles. Semantics pinned
    cross-engine where conventions diverge: day-of-week normalized to the
    Sunday=0 convention via (dayofweek - 1); date_diff argument order is
    (end - start) in both; date outputs serialized as yyyy-MM-dd strings
    (the portable date contract — pandas date objects and datetime64 hash
    differently). One selective modulo keeps the oracle-compared output
    small while exercising every expression."""
    od = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return od.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.date_format(F.expr("o_orderdate + INTERVAL 30 DAY"), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.date_format(
            F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd"
        ).alias("month_end"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
    )


# --- f_array_ops: array function breadth -------------------------------------

# Build two deterministic small arrays per order, then exercise the set/seq
# algebra. array results are canonicalized (sorted) so both engines hash
# identically.
_F_ARRAY_OPS_ORACLE = """
WITH a AS (
  SELECT o_orderkey,
         [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] AS xs,
         [o_orderkey % 5, o_orderkey % 2] AS ys
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey,
       array_to_string(list_sort(list_distinct(xs)), ',') AS xs_sorted,
       array_to_string(list_sort(list_distinct(list_cat(xs, ys))), ',') AS unioned,
       array_to_string(list_sort(list_distinct(list_intersect(xs, ys))), ',')
         AS intersected,
       COALESCE(array_to_string(list_sort(list_distinct(list_filter(xs, x -> NOT list_contains(ys, x)))), ','), '')
         AS excepted,
       CAST(list_contains(xs, 1) AS INT) AS has_one,
       CAST(len(xs) AS INT) AS n_xs
FROM a
"""


@register("f_array_ops", oracle=_F_ARRAY_OPS_ORACLE, tags=("function",))
def f_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array algebra breadth (SURVEY §2.F): distinct/sort, union,
    intersect, except, contains, size — all JVM codegen expressions on
    in-row arrays, zero shuffles, linear at any scale. Set-valued outputs
    are canonicalized to sorted CSV strings (array_distinct order is
    engine-private; the sort makes the contract portable — same rule as
    agg_collect_set)."""
    od = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    a = od.select(
        "o_orderkey",
        F.expr("array(o_orderkey % 7, o_orderkey % 5, o_orderkey % 3)").alias("xs"),
        F.expr("array(o_orderkey % 5, o_orderkey % 2)").alias("ys"),
    )
    return a.select(
        "o_orderkey",
        F.array_join(F.array_sort(F.array_distinct("xs")), ",").alias("xs_sorted"),
        F.array_join(F.array_sort(F.array_union("xs", "ys")), ",").alias("unioned"),
        F.array_join(F.array_sort(F.array_intersect("xs", "ys")), ",").alias(
            "intersected"
        ),
        F.array_join(F.array_sort(F.array_except("xs", "ys")), ",").alias("excepted"),
        F.array_contains("xs", 1).cast("int").alias("has_one"),
        F.size("xs").cast("int").alias("n_xs"),
    )


# --- f_regex: regular-expression function breadth ----------------------------

# Patterns restricted to the Java∩RE2 common subset (character classes,
# quantifiers, anchors, groups) so both engines' regex dialects agree.
_F_REGEX_ORACLE = """
SELECT doc_id,
       regexp_extract(text, '[0-9]+') AS first_number,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
       regexp_replace(text, '[0-9]+', '#', 'g') AS masked,
       CAST(regexp_matches(text, '^[A-Z]') AS INT) AS starts_upper
FROM documents
WHERE doc_id % 10 = 0
"""


@register("f_regex", oracle=_F_REGEX_ORACLE, tags=("function", "text"))
def f_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function breadth (SURVEY §2.F): first-match extraction,
    match counting, global replacement, anchored boolean match. Patterns
    stay inside the Java-regex ∩ RE2 common subset so the oracle is a true
    cross-dialect check (llm_pii_scrub is the applied big sibling). All
    JVM-side codegen string work — the pattern compiles once per task, not
    per row; zero shuffles."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "[0-9]+", 0).alias("first_number"),
        F.expr("CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)").alias(
            "n_words"
        ),
        F.regexp_replace("text", "[0-9]+", "#").alias("masked"),
        F.expr("CAST(text RLIKE '^[A-Z]' AS INT)").alias("starts_upper"),
    )


# --- f_bitwise: bitwise expression breadth -----------------------------------

_F_BITWISE_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 4096 AS with_flag,
       xor(o_orderkey, 65535) AS xored,
       o_orderkey << 2 AS shifted_up,
       o_orderkey >> 3 AS shifted_down,
       CAST(bit_count(o_orderkey) AS INT) AS popcount
FROM orders
WHERE o_orderkey % 100 = 0
"""


@register("f_bitwise", oracle=_F_BITWISE_ORACLE, tags=("function",))
def f_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression breadth (SURVEY §2.F): and/or/xor, shifts,
    popcount — the integer tool-kit under flag packing, bucket masks, and
    bitmap tricks (agg_bitmap_distinct is the aggregate-side sibling). All
    codegen, zero shuffles. XOR spelled as a function because the operator
    glyph differs across engines (Spark ``^``, DuckDB ``xor()``) while the
    semantics don't — the oracle proves value equality."""
    od = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return od.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("low_byte"),
        F.expr("o_orderkey | 4096").alias("with_flag"),
        F.expr("o_orderkey ^ 65535").alias("xored"),
        F.expr("shiftleft(o_orderkey, 2)").alias("shifted_up"),
        F.expr("shiftright(o_orderkey, 3)").alias("shifted_down"),
        F.expr("CAST(bit_count(o_orderkey) AS INT)").alias("popcount"),
    )


# --- f_try_ops: ANSI-mode error-safe arithmetic ------------------------------

# Spark 4 runs ANSI mode ON by default: integer overflow and division by
# zero THROW instead of wrapping/nulling. try_add / try_divide are the
# production-safe forms — NULL on the error condition, exact otherwise.
# The oracle spells the identical semantics as explicit CASE guards
# (DuckDB's own arithmetic also errors on bigint overflow, so the guarded
# branch computes in HUGEINT before narrowing).
_F_TRY_OPS_ORACLE = """
SELECT o_orderkey,
       CAST(o_totalprice AS DOUBLE) / 7.0 AS safe_div,
       CAST(NULL AS DOUBLE) AS div_by_zero,
       CASE WHEN o_orderkey > 0 THEN NULL
            ELSE CAST(9223372036854775807 + CAST(o_orderkey AS HUGEINT) AS BIGINT)
       END AS add_overflow
FROM orders
"""


@register("f_try_ops", oracle=_F_TRY_OPS_ORACLE, tags=("function",))
def f_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe arithmetic: Spark 4 ships with ANSI ON, so
    bare integer overflow and division by zero ABORT the job — on a
    100 TB run, one poisoned row kills hours of work. ``try_divide`` /
    ``try_add`` are the per-row-safe forms: NULL exactly on the error
    condition, bit-identical to the plain operator otherwise, and still
    pure codegen (no UDF, no shuffle). The fixture exercises both
    branches: every o_orderkey > 0 overflows BIGINT max in try_add (NULL)
    while the one o_orderkey = 0 row survives with the exact max value;
    try_divide by a constructed zero is NULL for every row; the safe
    division matches the oracle's plain division bit-for-bit. This is the
    error-HANDLING complement to src_corrupt_recovery's error-ISOLATION:
    the first quarantines unparseable input, this neutralizes poisoned
    arithmetic on parsed data."""
    # EVERY row takes the try_add overflow path (exception-based in the
    # JVM, ~20us/row) and the one-row-group orders scan ran all 150k of
    # them on ONE task (profiled 3.8 s). Spread the 3 needed columns first.
    orders = rebalance_for_map(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"), spark
    )
    zero = F.col("o_orderkey") - F.col("o_orderkey")  # provably-zero bigint
    return orders.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.lit(7.0)).alias("safe_div"),
        F.try_divide(F.col("o_totalprice"), zero.cast("double")).alias("div_by_zero"),
        F.try_add(F.lit(9223372036854775807).cast("bigint"), F.col("o_orderkey")).alias(
            "add_overflow"
        ),
    )


# --- f_checksum: content digests (content-addressable keys) ------------------

# Spark's md5()/sha2(...,256) and DuckDB's md5()/sha256() both emit
# lowercase hex of the identical RFC digests, so full value-hash parity is
# exact. The 16-hex-char prefix reinterpreted as a BIGINT is the repo's
# standard content-derived shard key (uniform, engine-portable).
_F_CHECKSUM_ORACLE = """
SELECT doc_id,
       md5(text) AS md5_hex,
       sha256(text) AS sha256_hex,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT) AS shard_key
FROM documents
"""


@register("f_checksum", oracle=_F_CHECKSUM_ORACLE, tags=("function", "llm"))
def f_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic content digests per document: md5 and sha-256 hex,
    plus a digest-derived integer shard key — the identity layer of a
    content-addressable corpus store (dedup keys, cache keys, stable
    shard routing all hang off these). Pure codegen projection: both
    hashes are JVM intrinsics evaluated map-side with zero shuffle, so
    the operator scales with scan bandwidth alone. The shard key takes
    the first 8 hex chars (32 bits) so the value is exact in a BIGINT in
    both engines."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.length(F.col("text")).cast("bigint").alias("n_chars"),
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("shard_key"),
    )


# --- f_ip_cidr: IPv4 parse, integer form, CIDR bucket, RFC-1918 flag ----------

# Network-log analytics needs the IPv4 toolbox Spark doesn't ship as
# builtins: dotted-quad → 32-bit integer, /16 CIDR bucketing, and the
# RFC-1918 private-range predicate. The address is synthesized from
# user_id (deterministic at every SF, like the geo operators' synthetic
# coordinates), then PARSED BACK from its string form — the parse (split
# + try-cast octets + positional weights) is the operator under test,
# not the synthesis. Pure per-row codegen expressions: zero exchanges,
# zero Python (function-tag gated).
_IP_EXPR_SPARK = (
    "concat(CAST(user_id % 223 + 1 AS STRING), '.', "
    "CAST((user_id * 7) % 256 AS STRING), '.', "
    "CAST((user_id * 13) % 256 AS STRING), '.', "
    "CAST((user_id * 31) % 254 + 1 AS STRING))"
)
_IP_EXPR_DUCK = (
    "(user_id % 223 + 1)::VARCHAR || '.' || "
    "((user_id * 7) % 256)::VARCHAR || '.' || "
    "((user_id * 13) % 256)::VARCHAR || '.' || "
    "((user_id * 31) % 254 + 1)::VARCHAR"
)

_F_IP_CIDR_ORACLE = f"""
WITH src AS (
  SELECT event_id, {_IP_EXPR_DUCK} AS ip FROM events
),
oct AS (
  SELECT event_id, ip,
         CAST(string_split(ip, '.')[1] AS BIGINT) AS o1,
         CAST(string_split(ip, '.')[2] AS BIGINT) AS o2,
         CAST(string_split(ip, '.')[3] AS BIGINT) AS o3,
         CAST(string_split(ip, '.')[4] AS BIGINT) AS o4
  FROM src
)
SELECT event_id, ip,
       o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num,
       o1::VARCHAR || '.' || o2::VARCHAR || '.0.0/16' AS cidr16,
       CAST(CASE WHEN o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                 OR (o1 = 192 AND o2 = 168) THEN 1 ELSE 0 END AS INT)
         AS is_private
FROM oct
"""


@register("f_ip_cidr", oracle=_F_IP_CIDR_ORACLE, tags=("function",))
def f_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 toolbox: parse a dotted-quad address into its 32-bit integer
    form, bucket it to /16 CIDR, and flag RFC-1918 private ranges — the
    scalar kit behind network-log sessionization and geo-IP joins.

    Scale shape: split + try_cast + positional weights are one codegen
    projection; zero exchanges (function-tag plan-gated), so 100 TB
    throughput is pure scan rate. try_cast keeps ANSI mode safe on
    malformed quads (none here — but the operator contract is the parse,
    which must not throw on dirty logs)."""
    ev = table(spark, sf_dir, "events")
    src = ev.select("event_id", F.expr(_IP_EXPR_SPARK).alias("ip"))
    o = [
        F.expr(f"try_cast(element_at(split(ip, '\\\\.'), {i + 1}) AS BIGINT)")
        for i in range(4)
    ]
    return src.select(
        "event_id",
        "ip",
        (o[0] * 16777216 + o[1] * 65536 + o[2] * 256 + o[3]).alias("ip_num"),
        F.concat_ws(
            "", o[0].cast("string"), F.lit("."), o[1].cast("string"), F.lit(".0.0/16")
        ).alias("cidr16"),
        F.when(
            (o[0] == 10)
            | ((o[0] == 172) & o[1].between(16, 31))
            | ((o[0] == 192) & (o[1] == 168)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_private"),
    )


# --- f_codec: base64/hex codec kit with verified roundtrip --------------------

# The wire-format scalar kit (webhook payloads, cache keys, binary-safe
# CSV columns): base64 and hex encodings of document text with an
# in-plan roundtrip proof. Cross-engine gotchas pinned here: Spark's
# base64() MIME-wraps at 76 chars with CRLF (java.util.Base64 MIME
# encoder) where DuckDB's to_base64 never wraps — the Spark side strips
# the fold so both engines emit RFC 4648 §4 unwrapped form. hex() is
# uppercase in both. DuckDB's VARCHAR::BLOB cast REJECTS non-ASCII
# (adversarial-fixture finding); encode()/decode() is its UTF-8 byte
# path, matching Spark's cast(string AS binary).
_CODEC_ORACLE = """
SELECT doc_id,
       substr(md5(to_base64(encode(text))), 1, 16) AS b64_sig,
       CAST(length(to_base64(encode(text))) AS BIGINT) AS b64_len,
       substr(md5(hex(text)), 1, 16) AS hex_sig,
       CASE WHEN text IS NULL THEN NULL
            WHEN decode(from_base64(to_base64(encode(text)))) = text
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS roundtrip_ok
FROM documents
"""


@register("f_codec", oracle=_CODEC_ORACLE, tags=("function",))
def f_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64/hex codec kit with an in-plan roundtrip proof per document:
    encode, digest the encodings, and verify decode(encode(x)) == x as a
    column the oracle hash-checks. Pure codegen projection — JVM codec
    intrinsics map-side, zero shuffle (function-tag gated). Spark's MIME
    line-folding (76-char CRLF wrap) is normalized away so both engines
    emit RFC 4648 unwrapped base64."""
    docs = table(spark, sf_dir, "documents")
    b64 = F.regexp_replace(
        F.base64(F.col("text").cast("binary")), "\r\n", ""
    )
    return docs.select(
        "doc_id",
        F.substring(F.md5(b64), 1, 16).alias("b64_sig"),
        F.length(b64).cast("bigint").alias("b64_len"),
        F.substring(F.md5(F.hex(F.col("text"))), 1, 16).alias("hex_sig"),
        (F.unbase64(b64).cast("string") == F.col("text"))
        .cast("bigint")
        .alias("roundtrip_ok"),
    )


# --- f_geo_bearing: initial great-circle bearing -------------------------------

# The navigation companion to f_haversine's distance: the initial bearing
# from each part's synthetic coordinate toward the reference point,
# normalized to [0, 360). Same shared-trig discipline as haversine:
# every operand reaching atan2 is the same double in both engines, and
# the result is ROUND(6)-quantized because libm atan2 can differ in the
# last ulp.
_BEARING_DUCK = """
ROUND(
  (degrees(atan2(
     sin(radians(40.7128 - {lat})) * 0.0 + sin(radians(-74.0060 - {lon})) * cos(radians(40.7128)),
     cos(radians({lat})) * sin(radians(40.7128))
       - sin(radians({lat})) * cos(radians(40.7128)) * cos(radians(-74.0060 - {lon}))
   )) % 360.0 + 360.0) % 360.0, 6)
"""

_F_BEARING_ORACLE = f"""
SELECT p_partkey,
       {_BEARING_DUCK.format(lat="(CAST((p_partkey % 1800) AS DOUBLE) / 10.0 - 90.0)",
                             lon="(CAST(((p_partkey * 7) % 3600) AS DOUBLE) / 10.0 - 180.0)")}
         AS bearing_deg
FROM part
"""


@register("f_geo_bearing", oracle=_F_BEARING_ORACLE, tags=("function", "geo"))
def f_geo_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial great-circle bearing (degrees, [0, 360)) from each part's
    synthetic coordinate to the reference point — the navigation scalar
    next to f_haversine's distance (geofencing, direction-of-travel
    features). Pure codegen trig; ROUND(6) absorbs libm atan2 ulp; the
    double-mod normalization is exact on identical operands."""
    part = table(spark, sf_dir, "part")
    lat = synthetic_lat(F.col("p_partkey"))
    lon = synthetic_lon(F.col("p_partkey"))
    lat2, lon2 = F.lit(40.7128), F.lit(-74.0060)
    y = F.sin(F.radians(lat2 - lat)) * F.lit(0.0) + F.sin(
        F.radians(lon2 - lon)
    ) * F.cos(F.radians(lat2))
    x = F.cos(F.radians(lat)) * F.sin(F.radians(lat2)) - F.sin(
        F.radians(lat)
    ) * F.cos(F.radians(lat2)) * F.cos(F.radians(lon2 - lon))
    deg = F.degrees(F.atan2(y, x))
    return part.select(
        "p_partkey",
        F.round((deg % 360.0 + 360.0) % 360.0, 6).alias("bearing_deg"),
    )


# --- f_edit_distance: Levenshtein distance + normalized similarity -------------

# The string-distance primitive behind fuzzy matching and dedup
# explainability, exposed as a row-level function demo: Levenshtein
# distance between each part's name and its type label, with the
# normalized similarity 1 - d / max(len) — both engines implement the
# identical Wagner-Fischer DP over ASCII, and the similarity is a
# ROUND(9) ratio of exact integers. join_fuzzy is the JOIN consumer of
# this same primitive; this entry pins the function itself.
_EDIT_DIST_ORACLE = """
SELECT p_partkey,
       CAST(levenshtein(p_name, p_type) AS INT) AS edit_dist,
       CAST(greatest(strlen(p_name), strlen(p_type)) AS INT) AS max_len,
       ROUND(1.0 - CAST(levenshtein(p_name, p_type) AS DOUBLE)
                   / greatest(strlen(p_name), strlen(p_type)), 9) AS similarity
FROM part
"""


@register("f_edit_distance", oracle=_EDIT_DIST_ORACLE, tags=("function",))
def f_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance and length-normalized similarity
    between p_name and p_type for every part — the scalar primitive
    behind join_fuzzy, pinned as its own oracle-checked entry (both
    engines run the same Wagner-Fischer DP on ASCII inputs; the only
    double is the ROUND(9) similarity ratio).

    Scale shape: pure per-row codegen projection — zero exchanges, zero
    Python; cost is the O(len^2) DP per row, which divides perfectly by
    executor count. The threshold-banded variant used by join_fuzzy is
    the knob if len grows."""
    pt = table(spark, sf_dir, "part")
    d = F.levenshtein(F.col("p_name"), F.col("p_type"))
    mx = F.greatest(F.length("p_name"), F.length("p_type"))
    return pt.select(
        "p_partkey",
        d.cast("int").alias("edit_dist"),
        mx.cast("int").alias("max_len"),
        F.round(F.lit(1.0) - d.cast("double") / mx, 9).alias("similarity"),
    )

# --- f_time_bucket: arbitrary-width time bucketing ------------------------------

# The hypertable primitive (TimescaleDB's time_bucket, ClickHouse's
# toStartOfInterval): align every event to 5-minute and 6-hour bucket
# starts. Both engines could disagree through their native
# interval/date_trunc surfaces (origin conventions, DST rules), so the
# contract is pinned in epoch arithmetic instead: truncating integer
# division of epoch-µs by the width, rebuilt as TIMESTAMP_NTZ by adding
# microseconds to the epoch — the tables.py nanosAsLong construction,
# timezone-free by construction. Pure per-row codegen projection: zero
# exchanges, zero Python (plan-gated like every 'function' entry).
_BUCKET_5M_US = 5 * 60 * 1_000_000
_BUCKET_6H_US = 6 * 3600 * 1_000_000

_TIME_BUCKET_ORACLE = f"""
SELECT event_id, ts,
       make_timestamp((epoch_us(ts) // {_BUCKET_5M_US}) * {_BUCKET_5M_US})
         AS bucket_5m,
       make_timestamp((epoch_us(ts) // {_BUCKET_6H_US}) * {_BUCKET_6H_US})
         AS bucket_6h,
       CAST(epoch_us(ts) % {_BUCKET_5M_US} AS BIGINT) AS offset_in_5m_us
FROM events
"""


@register("f_time_bucket", oracle=_TIME_BUCKET_ORACLE, tags=("function",))
def f_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-width time bucketing (5-minute and 6-hour) with the
    in-bucket offset — the hypertable alignment primitive, pinned in
    truncating epoch-µs integer arithmetic rather than either engine's
    interval surface (see header for why). The rebuilt bucket start is
    TIMESTAMP_NTZ via epoch addition — no session-timezone dependence.

    Scale shape: per-row whole-stage-codegen projection; zero exchanges,
    zero Python. Downstream groupBy(bucket) is the usual map-side
    combinable collapse (ts_vwap et al. show that shape)."""
    ev = table(spark, sf_dir, "events")
    eus = "unix_micros(cast(ts as timestamp))"
    mk = "timestampadd(MICROSECOND, {us}, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    return ev.select(
        "event_id",
        "ts",
        F.expr(
            mk.format(us=f"({eus} div {_BUCKET_5M_US}) * {_BUCKET_5M_US}")
        ).alias("bucket_5m"),
        F.expr(
            mk.format(us=f"({eus} div {_BUCKET_6H_US}) * {_BUCKET_6H_US}")
        ).alias("bucket_6h"),
        F.expr(f"cast({eus} % {_BUCKET_5M_US} as bigint)").alias("offset_in_5m_us"),
    )


# --- f_hash_rng: deterministic hash-derived random variates --------------------

# Reproducible randomness is infrastructure at 100 TB: df.sample()'s
# output depends on partition layout, but a content-hash RNG gives every
# row the same draw on any cluster, any partitioning, any engine. A
# 56-bit md5 slice becomes uniform u in (0,1]; -ln(u) is an Exponential(1)
# variate (inverse-CDF); the 10% keep decision and the decile bucket are
# INTEGER comparisons on the raw hash — no float anywhere near a
# boundary. This is the primitive agg_bootstrap_ci's Poisson sampler and
# sample_hash's bucketing both specialize.
_RNG_SCALE = 72057594037927936  # 2^56
_RNG_TENTH = 7205759403792793  # floor(2^56 / 10)

_HASH_RNG_ORACLE = f"""
WITH h AS (
  SELECT event_id,
         CAST(('0x' || substring(md5('rng|' || CAST(event_id AS VARCHAR)),
                                 1, 14)) AS BIGINT) AS hv
  FROM events
)
SELECT event_id, hv,
       ROUND((CAST(hv AS DOUBLE) + 1.0) / {_RNG_SCALE}.0, 9) AS u,
       ROUND(-ln((CAST(hv AS DOUBLE) + 1.0) / {_RNG_SCALE}.0), 9) AS exp1,
       hv < {_RNG_TENTH} AS keep_10pct,
       CAST(hv // {_RNG_TENTH + 1} AS BIGINT) AS decile
FROM h
"""


@register("f_hash_rng", oracle=_HASH_RNG_ORACLE, tags=("function", "sample"))
def f_hash_rng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-row random variates from a content hash:
    uniform(0,1], Exponential(1) via inverse-CDF, a 10% keep flag, and
    a decile bucket — the reproducible-randomness primitive underneath
    hash sampling, Poisson bootstrapping, and weighted reservoir
    sampling. Unlike seed-based rand(), the draw is independent of
    partition layout, task retries, and engine.

    Scale shape: pure row-local projection (codegen, pushdown-safe);
    the keep flag and decile are integer comparisons on the raw 56-bit
    hash — only the log crosses into floats, on identical exact-ratio
    operands (ROUND(9) for the libm ulp)."""
    ev = table(spark, sf_dir, "events")
    hv = F.expr(
        "cast(conv(substring(md5(concat('rng|', cast(event_id as string))), 1, 14),"
        " 16, 10) as bigint)"
    )
    h = ev.select("event_id", hv.alias("hv"))
    u = (F.col("hv").cast("double") + 1.0) / float(_RNG_SCALE)
    return h.select(
        "event_id",
        "hv",
        F.round(u, 9).alias("u"),
        F.round(-F.log(u), 9).alias("exp1"),
        (F.col("hv") < _RNG_TENTH).alias("keep_10pct"),
        # exact integer division (`div`), NOT floor(double-div): hv is a
        # 56-bit integer a double can't represent exactly, and values just
        # below k*(TENTH+1) round up under double division, flipping the
        # bucket vs the oracle's exact `//` (ADVICE r9). Both engines
        # truncate non-negative integer division identically.
        F.expr(f"hv div {_RNG_TENTH + 1}").cast("bigint").alias("decile"),
    )
