"""Flagship query + the reference pipeline re-expressed Spark-first.

The reference's one pipeline (reference main.py:198-309) has the shape
scan → filter → join → aggregate → top-k → sink. ``flagship`` runs that shape
on the driver fixtures: "top customers by revenue per region in a date
window" over lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.

``air_quality_report`` is the same operator chain on canned station/sensor
data shaped like the reference's OpenAQ inputs (FIXTURES.md §A2-A4),
producing the reference's exact 6-column output schema
(city, location, parameter, value, unit, date — reference main.py:288).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .functions.exact import exact_sum, exact_sum_sql
from .functions.geo import haversine_m
from .registry import register
from .tables import table

FLAGSHIP_ORACLE = f"""
SELECT r_name AS region, n_name AS nation, c_name AS customer,
       {exact_sum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       SUM(l_quantity) AS sum_qty,
       COUNT(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND l_quantity IS NOT NULL
GROUP BY r_name, n_name, c_name
ORDER BY revenue DESC, customer ASC
LIMIT 50
"""


@register("flagship", oracle=FLAGSHIP_ORACLE, tags=("pipeline",))
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→join→agg→top-k, the reference pipeline's shape on fixtures.

    Scale posture: dimension tables (region/nation/customer) are broadcast —
    the fact-side lineitem⋈orders join is the only shuffle; the aggregate is
    partial (map-side) before the exchange; the top-k plans as
    TakeOrderedAndProject (no global sort of the full aggregate).
    """
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")

    dated = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )
    return (
        lineitem.filter(F.col("l_quantity").isNotNull())
        .join(dated, lineitem.l_orderkey == dated.o_orderkey)
        .join(F.broadcast(dims), F.col("o_custkey") == dims.c_custkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("c_name").alias("customer"),
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy(F.desc("revenue"), F.asc("customer"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Reference-semantics demo: the air-quality report on canned OpenAQ-shaped data
# ---------------------------------------------------------------------------

# city config dimension (reference main.py:11-22) — a literal DataFrame.
# radius_m is the PRIMARY search radius (25 km, main.py:15); the fallback
# country-scan uses its own hardcoded 75 km cut (main.py:141).
CITY_CFG_ROWS = [
    ("Warsaw", "PL", 52.2297, 21.0122, 25000.0),
    ("New York", "US", 40.7128, -74.0060, 25000.0),
]
PARAMETERS = ["pm25", "pm10", "o3", "no2"]  # reference main.py:25
FRESH_DAYS = 30  # reference main.py:36
FALLBACK_MIN_RESULTS = 10  # main.py:122: <10 primary hits → country scan
FALLBACK_RADIUS_M = 75000.0  # main.py:141: client-side haversine cut

# canned station payloads shaped like /locations results (FIXTURES.md §A2):
# (id, iso, name, locality, lat, lon, datetime_last_utc,
#  sensors[(id, param, units)])
CANNED_LOCATIONS = [
    (1, "PL", "Warszawa-Centrum", "Warszawa", 52.2300, 21.0100, "2024-01-28T06:00:00Z",
     [(11, "pm25", "µg/m³"), (12, "pm10", "µg/m³"), (13, "o3", "ppm"), (14, "no2", "ppm")]),
    (2, "PL", None, "Warszawa-Praga", 52.2500, 21.0500, "2024-01-29T06:00:00Z",
     [(21, "pm25", "µg/m³"), (22, "no2", "ppm")]),
    (3, "PL", "Warszawa-Stale", "Warszawa", 52.2000, 20.9800, "2023-06-01T06:00:00Z",  # stale > 30d
     [(31, "pm25", "µg/m³")]),
    (4, "PL", "Radom-Daleko", "Radom", 51.4027, 21.1471, "2024-01-29T06:00:00Z",  # far from Warsaw
     [(41, "pm25", "µg/m³")]),
    (5, "US", "NYC-Manhattan", "New York", 40.7200, -74.0100, "2024-01-30T06:00:00Z",
     [(51, "pm25", "µg/m³"), (52, "o3", None), (53, "so2", "ppm")]),  # so2 not tracked
    # Warsaw filler stations 6-13: enough primary radius hits (11 ≥ 10) that
    # Warsaw takes the PRIMARY branch while New York (1 < 10) falls back.
    (6, "PL", "Warszawa-Wola", "Warszawa", 52.2400, 20.9700, "2024-01-27T06:00:00Z",
     [(61, "pm10", "µg/m³")]),
    (7, "PL", "Warszawa-Ochota", "Warszawa", 52.2100, 20.9900, "2024-01-27T06:00:00Z",
     [(71, "pm25", "µg/m³")]),
    (8, "PL", "Warszawa-Ursus", "Warszawa", 52.1950, 20.8800, "2024-01-26T06:00:00Z",
     [(81, "so2", "ppm")]),  # no allowlisted params → never a candidate
    (9, "PL", "Warszawa-Bielany", "Warszawa", 52.2900, 20.9300, "2024-01-28T06:00:00Z",
     [(91, "o3", "ppm")]),
    (10, "PL", "Warszawa-Wawer", "Warszawa", 52.2000, 21.1500, "2024-01-25T06:00:00Z",
     [(101, "no2", "ppm")]),
    (11, "PL", "Warszawa-Bemowo", "Warszawa", 52.2550, 20.9100, "2024-01-27T06:00:00Z",
     [(111, "pm25", "µg/m³")]),
    (12, "PL", "Warszawa-Zoliborz", "Warszawa", 52.2700, 20.9800, "bad-datetime",  # unparseable
     [(121, "pm25", "µg/m³")]),  # → _parse_dt None → station dropped (main.py:95-96)
    (13, "PL", "Warszawa-NoCoords", "Warszawa", None, None, "2024-01-28T06:00:00Z",
     [(131, "pm25", "µg/m³")]),  # primary branch never reads coords → still a candidate
    # US stations reachable ONLY through the fallback country scan:
    (14, "US", "Yonkers", "Yonkers", 40.9312, -73.8988, "2024-01-29T06:00:00Z",  # ~26 km
     [(141, "pm25", None)]),  # sensor units missing → unit falls back to the measurement
    (15, "US", "Philadelphia", "Philadelphia", 39.9526, -75.1652, "2024-01-29T06:00:00Z",
     [(151, "pm25", "µg/m³")]),  # ~130 km → outside the 75 km fallback cut
    (16, "US", "US-NoCoords", None, None, None, "2024-01-29T06:00:00Z",
     [(161, "pm25", "µg/m³")]),  # fallback skips coordinate-less stations (main.py:138-139)
]

# canned /locations radius-endpoint responses (main.py:117-119): which
# loc_ids the PRIMARY radius query returned per city. Warsaw gets 11 hits
# (every PL station inside 25 km, fresh or not — freshness is filtered
# client-side afterwards); New York gets 1, tripping the <10 fallback.
CANNED_RADIUS_RESPONSE = [
    ("Warsaw", 1), ("Warsaw", 2), ("Warsaw", 3), ("Warsaw", 6), ("Warsaw", 7),
    ("Warsaw", 8), ("Warsaw", 9), ("Warsaw", 10), ("Warsaw", 11), ("Warsaw", 12),
    ("Warsaw", 13),
    ("New York", 5),
]

# canned measurement payloads shaped like /locations/{id}/latest (FIXTURES.md
# §A3): (location_id, sensor_id, value_json, meas_unit, datetime_utc).
# ``value_json`` models the API's polymorphic value field (scalar or object):
# object-shaped values fail the reference's float() validation and are
# DROPPED (main.py:249-252) — _extract_unit's dict branch (main.py:192-193)
# is only reachable for rows that validation already rejected.
# Measurements are limited to stations {1, 2, 9} (Warsaw) and
# {5, 14} (New York) so the reference's sequential early-break (3 used
# stations + full parameter coverage, main.py:278) can never exclude rows —
# the declarative plan is then order-independent and exactly equivalent.
CANNED_MEASUREMENTS = [
    (1, 11, "17.2", None, "2024-01-30T05:00:00Z"),
    (1, 12, "25.1", None, "2024-01-30T05:00:00Z"),
    (1, 13, "0.031", None, "2024-01-30T05:00:00Z"),
    (1, 14, "0.012", None, "2024-01-30T05:00:00Z"),
    (2, 21, "19.9", None, "2024-01-30T05:00:00Z"),
    (2, 22, "0.014", None, "2023-01-01T05:00:00Z"),  # stale measurement, dropped
    (5, 51, "9.5", None, "2024-01-30T04:00:00Z"),
    (5, 52, "0.027", "ppm", "2024-01-30T04:00:00Z"),  # sensor units NULL → meas unit used
    (5, 53, "0.002", None, "2024-01-30T04:00:00Z"),  # so2, filtered by parameter allowlist
    (1, 99, "1.0", None, "2024-01-30T05:00:00Z"),    # unknown sensor, dropped by join
    (1, 12, '{"value": 99.9, "unit": "mg/m³"}', None, "2024-01-30T06:00:00Z"),  # dict value → dropped
    (9, 91, "n/a", None, "2024-01-30T05:00:00Z"),    # non-numeric → dropped (float() fails)
    (9, 91, "0.029", None, "not-a-date"),  # unparseable date → KEPT (main.py:257-259)
    (14, 141, "12.3", "µg/m³", "2024-01-30T03:00:00Z"),  # fallback station, meas-unit branch
]


def air_quality_report(spark: SparkSession, as_of: str = "2024-01-31T00:00:00Z") -> DataFrame:
    """The reference pipeline end-to-end as one declarative Spark plan.

    Re-expresses reference main.py:198-309: the primary-radius vs
    country-scan fallback union (main.py:117-144 — cities whose radius
    endpoint returned <10 stations re-scan their country with a client-side
    75 km haversine cut), freshness filters (main.py:89-97: unparseable
    datetimeLast drops the station; main.py:257-259: an unparseable
    measurement date keeps the row), sensors explode + join (main.py:151-161,
    231-241), parameter allowlist (main.py:162, 242), float() validation
    that also rejects dict-shaped values (main.py:249-252), the
    truthiness-coalescing unit chain sensor → measurement → JSON object
    (main.py:183-194), name fallbacks (main.py:223), and the fixed 6-column
    projection (main.py:262-269, 288).

    Not modeled: the MAX_CANDIDATES=40 cap ranked by matches_count
    (main.py:170-172) — unreachable at 11 candidates, and its tie order is
    API response order, nondeterminism the engine deliberately avoids.

    Scale posture: the city config, per-city primary counts (2 rows), and
    the sensor dimension are broadcast; the station table is the fact side
    of every join, so the plan has no shuffle at all on the station axis —
    the data-dependent branch is a broadcast-join predicate, not a
    driver-side if.
    """
    cities = spark.createDataFrame(
        CITY_CFG_ROWS, "city string, iso string, city_lat double, city_lon double, radius_m double"
    )
    locations = spark.createDataFrame(
        CANNED_LOCATIONS,
        "loc_id long, iso string, name string, locality string, lat double, lon double, "
        "datetime_last string, sensors array<struct<sensor_id: long, parameter: string, units: string>>",
    )
    radius_resp = spark.createDataFrame(CANNED_RADIUS_RESPONSE, "city string, loc_id long")
    measurements = spark.createDataFrame(
        CANNED_MEASUREMENTS,
        "loc_id long, sensor_id long, value string, meas_unit string, datetime_utc string",
    )
    as_of_ts = F.to_timestamp(F.lit(as_of))

    # Data-dependent branch (main.py:121-144): count the radius endpoint's
    # hits per city; <10 → that city's candidates come from a country-wide
    # scan filtered by a 75 km haversine instead. Both counts and config are
    # tiny and broadcast; the union is declarative, not a driver-side if.
    n_primary = radius_resp.groupBy("city").agg(F.count(F.lit(1)).alias("n_primary"))
    cities_flagged = (
        cities.join(n_primary, "city", "left")
        .withColumn(
            "use_fallback", F.coalesce("n_primary", F.lit(0)) < FALLBACK_MIN_RESULTS
        )
    )
    primary = (
        radius_resp.join(
            F.broadcast(cities_flagged.filter(~F.col("use_fallback"))), "city"
        )
        .join(locations, "loc_id")
    )
    fallback = (
        locations.join(
            F.broadcast(cities_flagged.filter(F.col("use_fallback"))), "iso"
        )
        .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .filter(
            haversine_m(F.col("lat"), F.col("lon"), F.col("city_lat"), F.col("city_lon"))
            <= FALLBACK_RADIUS_M
        )
    )
    cols = ["city", "loc_id", "name", "locality", "datetime_last", "sensors"]
    results = primary.select(*cols).unionByName(fallback.select(*cols))

    # candidate stations: parseable AND fresh datetime_last (main.py:89-97)
    candidates = (
        results.filter(
            F.try_to_timestamp("datetime_last") >= as_of_ts - F.expr(f"INTERVAL {FRESH_DAYS} DAYS")
        )
        .withColumn("location", F.coalesce("name", "locality", F.concat(F.lit("id:"), F.col("loc_id"))))
    )
    # sensor dimension: explode the nested array, lowercase parameter, keep allowlist
    sensors = (
        candidates.select("city", "loc_id", "location", F.explode("sensors").alias("s"))
        .select(
            "city",
            "loc_id",
            "location",
            F.col("s.sensor_id").alias("sensor_id"),
            F.lower("s.parameter").alias("parameter"),
            F.col("s.units").alias("sensor_unit"),
        )
        .filter(F.col("parameter").isin(PARAMETERS))
    )
    # measurements: float() validation (rejects dict-shaped and non-numeric
    # values), freshness that KEEPS unparseable dates, the truthiness unit
    # chain, then join to the (broadcast) sensor dim and project 6 columns.
    meas_ts = F.try_to_timestamp("datetime_utc")
    return (
        measurements.filter(F.col("value").isNotNull() & F.col("sensor_id").isNotNull())
        .filter(F.col("value").try_cast("double").isNotNull())
        .filter(meas_ts.isNull() | (meas_ts >= as_of_ts - F.expr(f"INTERVAL {FRESH_DAYS} DAYS")))
        .join(F.broadcast(sensors), ["loc_id", "sensor_id"], "inner")
        .select(
            "city",
            "location",
            "parameter",
            F.col("value").try_cast("double").alias("value"),
            F.coalesce(
                F.nullif("sensor_unit", F.lit("")),
                F.nullif("meas_unit", F.lit("")),
                F.when(
                    F.col("value").startswith("{"),
                    F.get_json_object("value", "$.unit"),
                ),
                F.lit(""),
            ).alias("unit"),
            F.col("datetime_utc").alias("date"),
        )
    )


def _ref_pipeline_oracle() -> str:
    """DuckDB replica of the reference pipeline over the SAME canned
    literals (sensors flattened — the oracle mirrors results, not the
    nested shape). Trig ulp differences cannot flip the fallback's 75 km
    geo predicate: no fallback-branch station sits near the boundary
    (Yonkers ~26 km, Philadelphia ~130 km), the primary branch never
    computes a distance, and distance is not an output column."""
    sql_str = lambda v: "NULL" if v is None else repr(v)  # noqa: E731
    sql_num = lambda v: "NULL" if v is None else str(v)  # noqa: E731
    cities = ", ".join(
        f"('{c}', '{iso}', {lat}, {lon}, {r})" for c, iso, lat, lon, r in CITY_CFG_ROWS
    )
    locs = ", ".join(
        f"({lid}, '{iso}', {sql_str(name)}, {sql_str(loc)}, "
        f"{sql_num(lat)}, {sql_num(lon)}, '{dtl}')"
        for lid, iso, name, loc, lat, lon, dtl, _sensors in CANNED_LOCATIONS
    )
    resp = ", ".join(f"('{city}', {lid})" for city, lid in CANNED_RADIUS_RESPONSE)
    sensors = ", ".join(
        f"({lid}, {sid}, '{param}', {sql_str(units)})"
        for lid, _iso, _n, _l, _la, _lo, _d, sens in CANNED_LOCATIONS
        for sid, param, units in sens
    )
    meas = ", ".join(
        f"({lid}, {sid}, {sql_str(val)}, {sql_str(mu)}, '{dt}')"
        for lid, sid, val, mu, dt in CANNED_MEASUREMENTS
    )
    params = ", ".join(f"'{p}'" for p in PARAMETERS)
    hav = (
        "2 * 6371000.0 * asin(least(1.0, sqrt("
        "pow(sin(radians(c.city_lat - l.lat) / 2), 2) + "
        "cos(radians(l.lat)) * cos(radians(c.city_lat)) * "
        "pow(sin(radians(c.city_lon - l.lon) / 2), 2))))"
    )
    cutoff = (
        f"CAST('2024-01-31T00:00:00Z' AS TIMESTAMPTZ) - INTERVAL {FRESH_DAYS} DAY"
    )
    return f"""
WITH cities(city, iso, city_lat, city_lon, radius_m) AS (VALUES {cities}),
locs(loc_id, iso, name, locality, lat, lon, datetime_last) AS (VALUES {locs}),
resp(city, loc_id) AS (VALUES {resp}),
sens(loc_id, sensor_id, parameter, units) AS (VALUES {sensors}),
meas(loc_id, sensor_id, value, meas_unit, datetime_utc) AS (VALUES {meas}),
cities_flagged AS (
  SELECT c.*, COALESCE(n.n_primary, 0) < {FALLBACK_MIN_RESULTS} AS use_fallback
  FROM cities c LEFT JOIN (
    SELECT city, COUNT(*) AS n_primary FROM resp GROUP BY city
  ) n USING (city)
),
results AS (
  SELECT c.city, l.loc_id, l.name, l.locality, l.datetime_last
  FROM resp r
  JOIN cities_flagged c ON c.city = r.city AND NOT c.use_fallback
  JOIN locs l ON l.loc_id = r.loc_id
  UNION ALL
  SELECT c.city, l.loc_id, l.name, l.locality, l.datetime_last
  FROM locs l
  JOIN cities_flagged c ON c.iso = l.iso AND c.use_fallback
  WHERE l.lat IS NOT NULL AND l.lon IS NOT NULL
    AND {hav} <= {FALLBACK_RADIUS_M}
),
candidates AS (
  SELECT loc_id, city,
         coalesce(name, locality, 'id:' || loc_id) AS location
  FROM results
  WHERE TRY_CAST(datetime_last AS TIMESTAMPTZ) >= {cutoff}
),
sensor_dim AS (
  SELECT cd.city, cd.loc_id, cd.location, s.sensor_id,
         lower(s.parameter) AS parameter, s.units AS sensor_unit
  FROM candidates cd JOIN sens s ON s.loc_id = cd.loc_id
  WHERE lower(s.parameter) IN ({params})
)
SELECT sd.city, sd.location, sd.parameter,
       TRY_CAST(m.value AS DOUBLE) AS value,
       COALESCE(
         NULLIF(sd.sensor_unit, ''),
         NULLIF(m.meas_unit, ''),
         CASE WHEN left(m.value, 1) = '{{' THEN json_extract_string(m.value, '$.unit') END,
         ''
       ) AS unit,
       m.datetime_utc AS date
FROM meas m
JOIN sensor_dim sd ON sd.loc_id = m.loc_id AND sd.sensor_id = m.sensor_id
WHERE m.value IS NOT NULL AND m.sensor_id IS NOT NULL
  AND TRY_CAST(m.value AS DOUBLE) IS NOT NULL
  AND (TRY_CAST(m.datetime_utc AS TIMESTAMPTZ) IS NULL
       OR TRY_CAST(m.datetime_utc AS TIMESTAMPTZ) >= {cutoff})
"""


@register("ref_pipeline", oracle=_ref_pipeline_oracle(), tags=("pipeline",))
def ref_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline semantics on canned data, oracle-checked: the
    full air-quality report (freshness + geo-radius + allowlist + validity
    filters, sensor join, coalesce fallbacks, 6-column projection) must
    match a DuckDB replica built from the same literals."""
    return air_quality_report(spark)
