"""Source / sink operators (SURVEY.md §2.A).

The reference's I/O surface: paginated REST scans (main.py:45-57, 125-132),
nested-JSON ingestion (main.py:119, 180), a header'd CSV sink with
timestamped filename (main.py:284-293) and an object-store upload
(main.py:295-303). Spark-first equivalents: a custom Python DataSource whose
partitions are the pages (parallel fetch instead of a sequential loop),
from_json ingestion, and CSV/Parquet writers — on a cluster the "upload" is
just writing to the object store URI, no separate copy step.

Sink queries write to a fresh query-scoped temp dir (``scoped_tempdir``:
removed when the next registered query is built) and return the read-back
DataFrame, read with the written frame's schema (no inference job), so the
full write→read round trip is what gets oracle-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.exact import exact_sum, exact_sum_sql
from ..registry import register
from ..session import scoped_persist, scoped_tempdir
from ..tables import table

_SRC_PARQUET_ORACLE = """
SELECT l_orderkey, l_extendedprice FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_extendedprice > 50000.0
"""


@register("src_parquet", oracle=_SRC_PARQUET_ORACLE, tags=("source",))
def src_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with predicate + projection pushdown: only 3 of 11
    lineitem columns are read and both filters reach the parquet reader
    (PushedFilters in the plan — asserted by tests/test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
            & (F.col("l_extendedprice") > 50000.0)
        )
        .select("l_orderkey", "l_extendedprice")
    )


_SRC_NESTED_JSON_ORACLE = """
SELECT TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS cnt
FROM events
GROUP BY k_bucket
"""


@register("src_nested_json", oracle=_SRC_NESTED_JSON_ORACLE, tags=("source",))
def src_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion with a declared schema (the reference's
    payload.get("results") dict-walking, main.py:119, 180): from_json with a
    StructType, then relational ops over the extracted field."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return (
        parsed.groupBy((F.col("p.k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# canned REST payloads: 3 pages of station results (the pagination loop of
# reference main.py:125-132, one partition per page → parallel fetch)
_REST_ORACLE = """
SELECT * FROM (VALUES
  (1, CAST(101 AS BIGINT), 'Warszawa-Centrum', 'pm25', 17.2),
  (1, CAST(102 AS BIGINT), 'Warszawa-Praga',   'pm10', 25.1),
  (2, CAST(201 AS BIGINT), 'NYC-Manhattan',    'o3',   0.031),
  (2, CAST(202 AS BIGINT), 'NYC-Queens',       'no2',  0.012),
  (3, CAST(301 AS BIGINT), 'NYC-Bronx',        'pm25', 9.5)
) AS t(page, id, name, parameter, value)
"""


# One fixture API server per driver process: a daemon-threaded
# http.server started lazily on an ephemeral port, alive for the session
# (the DataFrame is lazy — the reader fetches AFTER the builder returns).
# Pages mirror the reference crawl: 1-3 carry results, 4 always answers
# HTTP 500 (the timeout/5xx injection), 5 returns an empty result list
# (the pagination terminator). ?probe=1 returns only {"n": count} so the
# driver-side pagination walk is metadata-cheap.
_HTTP_FIXTURE = {"server": None, "url": None}

_HTTP_PAGES = {
    1: '{"results": [{"id": 101, "name": "Warszawa-Centrum", "parameter": "pm25", "value": 17.2},'
       ' {"id": 102, "name": "Warszawa-Praga", "parameter": "pm10", "value": 25.1}]}',
    2: '{"results": [{"id": 201, "name": "NYC-Manhattan", "parameter": "o3", "value": 0.031},'
       ' {"id": 202, "name": "NYC-Queens", "parameter": "no2", "value": 0.012}]}',
    3: '{"results": [{"id": 301, "name": "NYC-Bronx", "parameter": "pm25", "value": 9.5}]}',
}
_HTTP_FAILING_PAGE = 4  # always HTTP 500: the reference's error->skip path
_HTTP_MAX_PAGE = 5  # the reference's crawl cap (main.py:125: range(1, 6))


def _http_fixture_url() -> str:
    """Start (once) and return the base URL of the local fixture API."""
    if _HTTP_FIXTURE["url"] is not None:
        return _HTTP_FIXTURE["url"]
    import http.server
    import json as _json
    import threading
    from urllib.parse import parse_qs, urlparse

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep test output quiet
            pass

        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            page = int(q.get("page", ["1"])[0])
            if page == _HTTP_FAILING_PAGE:
                self.send_error(500, "injected server error")
                return
            payload = _HTTP_PAGES.get(page, '{"results": []}')
            if q.get("probe"):
                n = len(_json.loads(payload)["results"])
                payload = '{"n": %d}' % n
            body = payload.encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _HTTP_FIXTURE["server"] = srv
    _HTTP_FIXTURE["url"] = f"http://127.0.0.1:{srv.server_address[1]}/locations"
    return _HTTP_FIXTURE["url"]


@register("src_http", oracle=_REST_ORACLE, tags=("source",))
def src_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated REST scan as a REGISTERED Spark 4 Python DataSource
    against a real in-process HTTP fixture server (the reference's
    _get_json page loop, main.py:45-57, 125-132). The planner walks
    pages 1..5 with cheap ?probe=1 metadata calls and STOPS at the first
    empty page (the reference's pagination terminator); every discovered
    page becomes an InputPartition, so a 1000-page crawl fans out across
    executors instead of looping on one driver.

    The reference's error contract IS reproduced over real HTTP:
    _get_json maps any HTTP error/timeout to None -> page skipped
    (main.py:39-40). Page 4 answers HTTP 500; the probe keeps it as a
    partition (an error is not a terminator) and the executor's
    try/except turns its fetch into an empty page, so the oracle (five
    rows from pages 1-3) pins the skip. On Spark the policy is
    partition-local — one bad page costs one empty partition, not the
    driver-global abort a sequential loop risks."""

    base_url = _http_fixture_url()

    # defined inside the builder so cloudpickle ships it by value — executors
    # need no import path to this package.
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class RestPagesReader(DataSourceReader):
        def __init__(self, url: str):
            self.url = url

        def partitions(self):
            # driver-side pagination walk (reference main.py:125-132):
            # probe pages sequentially, stop at the first EMPTY page;
            # probe errors keep the page (read() applies the skip policy)
            import urllib.request

            parts = []
            for page in range(1, _HTTP_MAX_PAGE + 1):
                try:
                    import json

                    with urllib.request.urlopen(
                        f"{self.url}?page={page}&probe=1", timeout=15
                    ) as r:
                        if json.loads(r.read())["n"] == 0:
                            break
                except Exception:
                    pass  # error != empty: the page stays a partition
                parts.append(InputPartition(page))
            return parts

        def read(self, partition):
            import json
            import urllib.request

            page = partition.value
            # the real-HTTP analogue of requests.get(url, timeout=15).json();
            # reference main.py:45-57: any error -> None -> skip the page
            try:
                with urllib.request.urlopen(
                    f"{self.url}?page={page}", timeout=15
                ) as r:
                    payload = json.loads(r.read())
            except Exception:
                payload = None
            if payload is None:
                return
            for rec in payload["results"]:
                yield (page, rec["id"], rec["name"], rec["parameter"], rec["value"])

    class RestPagesSource(DataSource):
        @classmethod
        def name(cls):
            return "rest_pages"

        def schema(self):
            return "page int, id bigint, name string, parameter string, value double"

        def reader(self, schema):
            return RestPagesReader(self.options["base_url"])

    spark.dataSource.register(RestPagesSource)
    return spark.read.format("rest_pages").option("base_url", base_url).load()


_SNK_BASE_SQL = f"""
SELECT r_name AS region, COUNT(*) AS order_cnt,
       {exact_sum_sql('o_totalprice')} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, cust, nation, region = (
        table(spark, sf_dir, n) for n in ("orders", "customer", "nation", "region")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            exact_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@register("snk_csv", oracle=_SNK_BASE_SQL, tags=("sink",))
def snk_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink with header + read-back (the reference's DictWriter sink,
    main.py:284-293), matching its file fidelity: ``utf-8-sig`` encoding
    (``encoding`` + an explicit UTF-8 BOM prefix is what ``open(...,
    encoding="utf-8-sig")`` produces) and a timestamped directory name
    (``openaq_data_%Y%m%d_%H%M%S``, main.py:284-285) — derived from the
    DATA (max o_orderdate), not wall-clock, so runs are deterministic.
    coalesce(1) mirrors its single-file output — for a 100 TB result you
    would drop the coalesce and let every task write its own part file."""
    df = _region_revenue(spark, sf_dir)
    # data-derived timestamp for the reference's strftime filename: one
    # scalar read (an aggregate of an already-small dimension), not a
    # collect of data rows.
    stamp_row = (
        table(spark, sf_dir, "orders")
        .agg(F.date_format(F.max("o_orderdate"), "yyyyMMdd_HHmmss").alias("s"))
        .first()
    )
    out = scoped_tempdir("snk_csv_") + f"/openaq_data_{stamp_row['s']}"
    df.coalesce(1).write.mode("overwrite").option("header", True).option(
        "encoding", "utf-8"
    ).csv(out)
    # The BOM: Spark's CSV writer has no utf-8-sig mode; the reference's
    # Excel-compatibility BOM is prepended per file (a rename-size metadata
    # op, not a data pass). This driver-side pass is only safe because the
    # output is the coalesced single file — if the coalesce(1) is ever
    # lifted, multi-part output must NOT be rewritten from the driver
    # (drop the BOM and document a read option instead), so fail loudly.
    import pathlib

    parts = list(pathlib.Path(out).glob("part-*.csv"))
    assert len(parts) == 1, (
        f"snk_csv's driver-side BOM rewrite requires exactly one part file "
        f"(coalesce(1)); got {len(parts)} — drop the BOM step for multi-part output"
    )
    for part in parts:
        raw = part.read_bytes()
        if not raw.startswith(b"\xef\xbb\xbf"):
            part.write_bytes(b"\xef\xbb\xbf" + raw)
        # drop the local-FS checksum sidecar the out-of-band edit invalidated
        crc = part.parent / f".{part.name}.crc"
        crc.unlink(missing_ok=True)
    return spark.read.option("header", True).schema(
        "region string, order_cnt bigint, revenue double"
    ).csv(out)


@register("snk_parquet", oracle=_SNK_BASE_SQL, tags=("sink",))
def snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back — the engine-native format
    (SURVEY §2.A snk_parquet). partitionBy(region) demonstrates the layout
    that enables partition pruning on subsequent scans."""
    out = scoped_tempdir("snk_parquet_")
    df = _region_revenue(spark, sf_dir)
    df.write.mode("overwrite").partitionBy("region").parquet(out)
    return spark.read.schema(df.schema).parquet(out).select("region", "order_cnt", "revenue")


@register("snk_object_store", oracle=_SNK_BASE_SQL, tags=("sink",))
def snk_object_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store sink (the reference's GCS upload, main.py:295-303):
    Spark writes DIRECTLY to an object-store URI via the Hadoop FS connector
    (gs://bucket/airquality/dt=.../) — no local-file-then-upload step.
    Locally the same code targets a filesystem path; the key layout
    (prefix + date partition) is what an object store sees. The partition
    value derives from the data (not wall-clock) so runs are deterministic."""
    out = scoped_tempdir("snk_object_store_") + "/airquality"
    df = _region_revenue(spark, sf_dir).withColumn("dt", F.lit("19980802"))
    df.write.mode("overwrite").partitionBy("dt").parquet(out)
    return spark.read.schema(df.schema).parquet(out).select("region", "order_cnt", "revenue")


_SRC_PARTITIONED_ORACLE = """
SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
"""


@register("src_partitioned", oracle=_SRC_PARTITIONED_ORACLE, tags=("source", "scale"))
def src_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: events written partitioned by event_type
    (the standard lakehouse layout), then read back with a partition
    predicate. The filter becomes a PartitionFilter — directories for other
    event types are never opened (asserted in tests/test_plans.py). At
    100 TB partition pruning is the first and cheapest 10-100x."""
    out = scoped_tempdir("src_partitioned_")
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return (
        spark.read.schema(ev.schema).parquet(out)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


_SRC_CSV_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
"""


@register("src_csv", oracle=_SRC_CSV_ORACLE, tags=("source",))
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source: schema'd, header'd read with FAILFAST mode (any malformed
    row aborts instead of silently nulling — the right default for a typed
    pipeline; the reference's DictWriter CSV is the write side of this,
    main.py:284-293). The write→read round trip is what gets oracle-checked:
    doubles must survive text formatting bit-exactly. CSV is a row format —
    no column pruning or predicate pushdown — so at scale it is an
    ingest-once format, converted to parquet on first touch (src_parquet)."""
    out = scoped_tempdir("src_csv_")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_acctbal double, c_mktsegment string"
    ).option("header", True).option("mode", "FAILFAST").csv(out)


_SRC_JSONL_ORACLE = """
SELECT doc_id, lang, source, length(text) AS n_chars_rt FROM documents
"""


@register("src_jsonl", oracle=_SRC_JSONL_ORACLE, tags=("source", "llm"))
def src_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source — the interchange format of LLM training-data pipelines
    (one JSON document per line). Write side: to_json(struct(...)) → text
    files; read side: schema'd spark.read.json (schema declared, NOT
    inferred — inference is a full extra pass at 100 TB). The oracle
    compares post-round-trip text length against the original, so JSON
    escaping must preserve every character. Like CSV, JSONL is row-major
    ingest-only at scale: first touch converts to parquet."""
    out = scoped_tempdir("src_jsonl_")
    docs = table(spark, sf_dir, "documents")
    docs.select(
        F.to_json(F.struct("doc_id", "text", "lang", "source")).alias("line")
    ).write.mode("overwrite").text(out)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string"
    ).json(out)
    return back.select(
        "doc_id", "lang", "source", F.length("text").cast("long").alias("n_chars_rt")
    )


_SRC_ORC_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


@register("src_orc", oracle=_SRC_ORC_ORACLE, tags=("source",))
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the second columnar format the engine speaks
    natively (Hive-ecosystem interchange). Same pushdown properties as
    parquet (stripe/row-group statistics drive predicate skipping); the
    write→read round trip must preserve int/double/varchar exactly. At
    scale ORC vs parquet is an ecosystem choice, not a capability gap."""
    out = scoped_tempdir("src_orc_")
    sup = table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").orc(out)
    return spark.read.schema(sup.schema).orc(out).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


_SNK_PART_OVERWRITE_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events
WHERE event_type <> 'purchase'
UNION ALL
SELECT event_id, user_id, event_type, value * 2.0 AS value FROM events
WHERE event_type = 'purchase'
"""


@register("snk_part_overwrite", oracle=_SNK_PART_OVERWRITE_ORACLE, tags=("sink", "scale"))
def snk_part_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent daily-rerun primitive.
    Full table written partitioned by event_type; a correction batch then
    rewrites ONLY the partitions it contains (here: 'purchase', values
    doubled) with ``partitionOverwriteMode=dynamic``, leaving every other
    partition's files untouched. This is how a 100 TB table absorbs a
    re-run of one day/one source without rewriting (or locking) the rest;
    static overwrite mode would truncate the whole table. Read-back of the
    merged table is what gets oracle-checked."""
    out = scoped_tempdir("snk_part_overwrite_")
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    correction = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") * 2.0
    )
    # a writer option overrides the session conf for this write only, so no
    # session state leaks to whatever query the driver runs next
    (
        correction.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(out)
    )
    return spark.read.schema(ev.schema).parquet(out).select(
        "event_id", "user_id", "event_type", "value"
    )


_SNK_SORTED_SKIP_ORACLE = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
"""


@register("snk_sorted_skip", oracle=_SNK_SORTED_SKIP_ORACLE, tags=("sink", "scale"))
def snk_sorted_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered write for data skipping (Z-order lite): the fact
    table is range-repartitioned AND sorted within partitions on
    l_shipdate before writing, so every parquet file covers a narrow,
    disjoint shipdate band and its row-group min/max statistics become
    tight. The read-back with a one-month predicate then skips all but
    ~1/30 of the files via footer stats — the filter reaches the scan as a
    PushedFilter (asserted in tests/test_plans.py) and the layout makes
    the pushed filter actually PRUNE. Partition-directory pruning
    (src_partitioned) works for low-cardinality keys; sort-clustering is
    the same 10-100x for high-cardinality range predicates — at 100 TB
    this is the difference between scanning a month and scanning seven
    years. repartitionByRange keys the exchange on the sort column itself
    so file count stays bounded (one writer task per band, no tiny-file
    explosion)."""
    out = scoped_tempdir("snk_sorted_skip_")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    li.repartitionByRange(16, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.mode("overwrite").parquet(out)
    return spark.read.schema(li.schema).parquet(out).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )


# --- src_schema_evolution: mergeSchema over heterogeneous parquet ------------

_SCHEMA_EVO_ORACLE = """
SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
FROM orders WHERE o_orderdate < DATE '1996-01-01'
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderdate >= DATE '1996-01-01'
"""


@register("src_schema_evolution", oracle=_SCHEMA_EVO_ORACLE, tags=("source", "scale"))
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: a dataset whose early files predate a column
    (the universal long-lived-table situation — a field added to the
    pipeline mid-history). Two parquet vintages are written from the
    fixture (pre-1996 rows WITHOUT o_orderpriority, later rows WITH it)
    and read back with ``mergeSchema=true``: Spark unions the footers into
    one schema and fills the missing column with nulls — no rewrite of the
    old files. At 100 TB that matters twice: schema merge is a
    footer-metadata operation (no data pass), and the columnar reader
    still prunes to exactly the requested columns per file. Default reads
    skip the footer union (first-file schema) — the option is per-scan, so
    only evolving tables pay the merge cost."""
    out = scoped_tempdir("src_schema_evo_")
    orders = table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < "1996-01-01").select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderdate") >= "1996-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(out + "/v1")
    new.write.mode("overwrite").parquet(out + "/v2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out + "/v1", out + "/v2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


# --- join_dpp: dynamic partition pruning -------------------------------------

_DPP_ORACLE = """
SELECT e.event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e
JOIN (SELECT DISTINCT event_type FROM events WHERE event_type LIKE 'p%') d
  ON e.event_type = d.event_type
GROUP BY e.event_type
"""


@register("join_dpp", oracle=_DPP_ORACLE, tags=("join", "source", "scale"))
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is partitioned on the join
    key, and the dim side's predicate (LIKE 'p%') is only known at RUN
    time — static pruning can't help, so Spark injects a
    ``dynamicpruningexpression`` into the fact scan: the dim is evaluated
    first, its surviving keys broadcast, and only MATCHING partitions of
    the fact are ever opened (plan-gated in tests/test_plans.py).
    src_partitioned is the static-predicate counterpart; together they are
    the two pruning regimes that make a 100 TB star-join read 1% of its
    partitions. The dim here derives from the fixture (distinct types
    passing the filter) so the oracle is pure SQL."""
    out = scoped_tempdir("join_dpp_")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.schema(ev.schema).parquet(out)
    dim = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").startswith("p"))
        .select("event_type")
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --- snk_compact: small-file compaction --------------------------------------

_COMPACT_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice FROM orders
"""


@register("snk_compact", oracle=_COMPACT_ORACLE, tags=("sink", "scale"))
def snk_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every streaming-ingested
    lakehouse table needs: a fragmented table (simulated with a 64-way
    repartition write: 64 tiny files, the 'one file per micro-batch'
    pathology) is rewritten as a handful of range-clustered files.
    ``repartitionByRange(4, o_custkey)`` + ``sortWithinPartitions`` gives
    each output file a tight, disjoint custkey min/max — the rewrite both
    shrinks the file count ~16x (restoring scan/footer efficiency: at
    100 TB, millions of 1 MB files make listing+open the bottleneck) AND
    clusters the data so subsequent key-range reads skip whole files
    (snk_sorted_skip's property, acquired as a side effect). The read-back
    proves the compaction is content-preserving — which is what makes it
    safe to run online."""
    base = scoped_tempdir("snk_compact_")
    frag, compact = base + "/frag", base + "/compact"
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    (
        spark.read.schema(orders.schema)
        .parquet(frag)
        .repartitionByRange(4, "o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderkey")
        .write.mode("overwrite")
        .parquet(compact)
    )
    # expose the two directories so tests can assert the file-count collapse
    snk_compact.last_paths = (frag, compact)
    return spark.read.schema(orders.schema).parquet(compact)


# --- snk_zorder: two-dimension Morton clustering for multi-column skipping ---

_SNK_ZORDER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_shipdate, l_extendedprice
FROM lineitem
WHERE l_shipdate >= DATE '1996-07-01' AND l_shipdate < DATE '1996-08-01'
  AND l_partkey BETWEEN 100 AND 299
"""


def _spread_bits(col):
    """Interleave-ready bit spread of a 16-bit value into even positions of
    a 32-bit lane (classic Morton magic-number sequence) — pure codegen
    integer ops, no UDF."""
    x = col.cast("bigint")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


@register("snk_zorder", oracle=_SNK_ZORDER_ORACLE, tags=("sink", "scale"))
def snk_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered write: the 2-D completion of
    snk_sorted_skip. Sorting on one column gives tight min/max stats for
    THAT column only; interleaving the bits of TWO dimensions (shipdate
    epoch-day and partkey, each quantized to 16 bits) and range-clustering
    on the Morton key gives every file a small rectangle in (date, part)
    space — so row-group stats prune on EITHER predicate, the property
    that makes one physical layout serve both the time-sliced and the
    key-sliced query population at 100 TB. The spread/interleave is the
    classic magic-number sequence, all codegen integer ops. The Morton key
    is layout metadata only — it keys the range exchange and the
    within-file sort, and is dropped before the write. The oracle checks
    the full round trip: clustered write, read back, both-dimension
    predicate — content must equal a direct filter of the source."""
    out = scoped_tempdir("snk_zorder_")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    day16 = (F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("date"))).bitwiseAND(
        F.lit(0xFFFF)
    )
    part16 = (F.col("l_partkey")).bitwiseAND(F.lit(0xFFFF))
    zkey = _spread_bits(day16).bitwiseOR(F.shiftleft(_spread_bits(part16), 1))
    (
        li.withColumn("_z", zkey)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.schema(li.schema).parquet(out).filter(
        (F.col("l_shipdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-08-01").cast("date"))
        & F.col("l_partkey").between(100, 299)
    )


# --- src_corrupt_recovery: malformed-input isolation (PERMISSIVE read) -------

# The staged directory holds clean CSV parts written by Spark (doubles
# serialize shortest-roundtrip, so values survive the text round trip
# bit-exactly) plus one hand-written part of three malformed lines: wrong
# arity (4 fields), not-CSV-at-all, and a type error in field 2. The
# oracle states the CONTRACT: every clean row lands with its exact value,
# every malformed line is counted, nothing is silently dropped.
_CORRUPT_RECOVERY_ORACLE = """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey < 100)
         AS n_valid,
       CAST(3 AS BIGINT) AS n_corrupt,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(20, 4))) AS DOUBLE)
        FROM orders WHERE o_orderkey < 100) AS total_valid
"""


@register("src_corrupt_recovery", oracle=_CORRUPT_RECOVERY_ORACLE, tags=("source", "quality"))
def src_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input isolation: a CSV ingest where some lines are broken
    (wrong arity, garbage, type errors) must neither abort the job
    (FAILFAST at 100 TB means one bad line kills a million-file load) nor
    silently drop rows (DROPMALFORMED loses data unaudited). PERMISSIVE
    mode with ``columnNameOfCorruptRecord`` is the production posture:
    broken lines surface as rows whose corrupt column holds the raw text,
    so the load self-audits — this query emits the (valid, corrupt,
    checksum) triple a 100 TB ingest would alert on, and the corrupt raw
    lines remain queryable for quarantine/replay.

    The reference swallows malformed payloads with ``.get`` defaults
    (main.py:146-199) — rows degrade silently; this operator is the
    auditable version of that posture. Caveat encoded here: counting
    corrupt rows requires materializing the corrupt column through a
    cache/filter (Spark lazily prunes _corrupt_record otherwise)."""
    out = scoped_tempdir("src_corrupt_")
    orders = table(spark, sf_dir, "orders")
    (
        orders.filter(F.col("o_orderkey") < 100)
        .select("o_orderkey", "o_totalprice")
        .coalesce(1)
        .write.mode("overwrite")
        .csv(out)
    )
    with open(f"{out}/zz_corrupt.csv", "w") as fh:
        fh.write("1,2.0,unexpected,extra\n")
        fh.write("this is not a csv line at all\n")
        fh.write("12,not_a_number\n")
    # The documented corrupt-record caveat, demonstrated the right way:
    # with CSV column pruning (default on), an aggregate that references
    # only a subset of columns lets the parser skip conversions, so type
    # errors in unreferenced fields are never detected and _bad stays
    # NULL. Persisting the parsed frame materializes FULL rows once,
    # making the audit counts stable regardless of downstream pruning.
    parsed = scoped_persist(
        spark.read.schema("o_orderkey bigint, o_totalprice double, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
    )
    return parsed.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_valid"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("o_totalprice").cast("decimal(20,4)"))
        )
        .cast("double")
        .alias("total_valid"),
    )


# --- src_binary_files: whole-file binary ingestion ---------------------------

# The raw-media ingest path: one FILE per object (the layout object stores
# hand you), read with Spark's binaryFile source — (path, length, content)
# rows plus Hive-style partition attribution from the directory name. The
# staging write emits each document as its own file via the text writer
# partitioned by doc_id; text files carry a trailing newline, so the
# oracle's digest is md5(text || chr(10)) and length + 1.
_SRC_BINARY_FILES_N = 64

_SRC_BINARY_FILES_ORACLE = f"""
SELECT doc_id,
       CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS content_md5
FROM documents WHERE doc_id < {_SRC_BINARY_FILES_N}
"""


@register("src_binary_files", oracle=_SRC_BINARY_FILES_ORACLE, tags=("source", "multimodal"))
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary source: stage one file per document (text writer
    partitioned by doc_id — the object-store one-blob-per-asset layout),
    then ingest with ``spark.read.format("binaryFile")``: each row is
    (path, modificationTime, length, content) with doc_id recovered FROM
    THE PATH by partition discovery — no sidecar manifest. The audit
    output (id, byte length, content md5) is the integrity check an
    ingest job publishes. binaryFile never splits a file, so parallelism
    is one task per blob — exactly right for media; pathGlobFilter skips
    _SUCCESS markers at the listing, before any bytes are read."""
    out = scoped_tempdir("src_binary_files_")
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SRC_BINARY_FILES_N
    )
    docs.select("doc_id", F.col("text").alias("value")).repartition(
        8, "doc_id"
    ).write.mode("overwrite").partitionBy("doc_id").text(out)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(out)
    )
    return back.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


# --- src_xml: native XML source (new in Spark 4) -----------------------------

_SRC_XML_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


@register("src_xml", oracle=_SRC_XML_ORACLE, tags=("source",))
def src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source — native in Spark 4 (the former spark-xml package merged
    upstream): write the supplier table as
    <suppliers><supplier>...</supplier></suppliers> documents, read back with a DECLARED schema and rowTag streaming
    (Spark's XML reader pull-parses row elements without loading whole
    documents — the property that makes 100 TB of XML feeds ingestable
    at all). Schema declared, not inferred — inference is an extra full
    pass. The oracle checks the round trip: text must survive XML
    escaping and doubles must survive text formatting bit-exactly (the
    src_csv contract, through a different serializer). Like CSV/JSONL,
    XML is row-major ingest-only at scale: first touch converts to
    parquet."""
    out = scoped_tempdir("src_xml_") + "/supplier_xml"
    sup = table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").format("xml").option("rootTag", "suppliers").option(
        "rowTag", "supplier"
    ).save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
        .load(out)
    )


# --- snk_manifest: dataset-release manifest ----------------------------------

# The reproducibility artifact a training-data release ships next to its
# shards: per-shard row count, byte total, and an ORDER-FREE content
# digest (bit_xor of per-doc md5 prefixes — commutative, so the digest is
# identical on any partitioning / task order, unlike a concat-and-hash).
# The sink really writes (partitionBy(shard) parquet) and the manifest is
# computed from the READ-BACK, so what gets checked is the round-tripped
# dataset, not the in-memory frame; the oracle recomputes from the source
# table directly — equality proves the write lost nothing.
_MANIFEST_SHARDS = 8

_SNK_MANIFEST_ORACLE = f"""
SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         % {_MANIFEST_SHARDS} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(bit_xor(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT))
         AS BIGINT) AS content_digest
FROM documents
GROUP BY 1
"""


@register("snk_manifest", oracle=_SNK_MANIFEST_ORACLE, tags=("sink", "llm"))
def snk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded dataset write + release manifest: documents are written
    partitionBy(shard) (the llm_doc_shard hash addressing), read back,
    and rolled up into the per-shard manifest — row count, char total,
    and an order-free bit_xor content digest. The xor fold is the scale
    point: it is commutative and map-side combinable, so the digest of a
    100 TB shard costs one aggregate with constant exchange payload and
    never depends on task order (a concat-then-hash digest would).
    Manifest equality vs the source table is the round-trip proof the
    release pipeline signs off on."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        "text",
        F.expr(
            f"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            f" % {_MANIFEST_SHARDS}"
        ).alias("shard"),
    )
    out = scoped_tempdir("snk_manifest_")
    docs.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.schema(docs.schema).parquet(out)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.expr(
            "bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT))"
        )
        .cast("bigint")
        .alias("content_digest"),
    )
