"""UDF tiers (SURVEY.md §2.J): pandas scalar UDF, grouped applyInPandas, UDTF.

The reference's helpers all compile to built-in expressions (§2.F does
exactly that), which is the idiomatic answer — these queries exist to prove
the extension tiers work when semantics genuinely need Python. All transfer
is Arrow-batched (vectorized), never row-at-a-time; functions are defined
inside the builders so cloudpickle ships them by value and executors need no
import path to this package.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.geo import HAVERSINE_SQL, SYNTH_LAT_SQL, SYNTH_LON_SQL
from ..registry import register
from ..session import scoped_view
from ..tables import table

_PART_DIST = HAVERSINE_SQL.format(
    lat1=SYNTH_LAT_SQL.format(key="p_partkey"),
    lon1=SYNTH_LON_SQL.format(key="p_partkey"),
    lat2="40.7128",
    lon2="-74.006",
)

_UDF_SCALAR_ORACLE = f"""
SELECT p_partkey, ROUND({_PART_DIST}, 0) AS dist_m FROM part
"""


@register("udf_scalar", oracle=_UDF_SCALAR_ORACLE, tags=("udf",))
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF computing haversine (reference main.py:75-86) —
    the Arrow-batched demo of the scalar tier. Same oracle as the pure-expr
    f_haversine, which doubles as a cross-check of the two implementations."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def haversine_pd(lat1, lon1, lat2, lon2):
        import numpy as np

        rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
        dlat = np.radians(lat2 - lat1)
        dlon = np.radians(lon2 - lon1)
        a = np.sin(dlat / 2.0) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2.0) ** 2
        return 2.0 * 6371000.0 * np.arcsin(np.minimum(1.0, np.sqrt(a)))

    part = table(spark, sf_dir, "part")
    lat = (F.col("p_partkey") % 1800).cast("double") / 10.0 - 90.0
    lon = ((F.col("p_partkey") * 7) % 3600).cast("double") / 10.0 - 180.0
    return part.select(
        "p_partkey",
        F.round(haversine_pd(lat, lon, F.lit(40.7128), F.lit(-74.006)), 0).alias("dist_m"),
    )


_UDF_AGG_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       SUM(l_quantity) AS sum_qty,
       MAX(l_extendedprice) AS max_price,
       MIN(l_extendedprice) AS min_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("udf_agg", oracle=_UDF_AGG_ORACLE, tags=("udf",))
def udf_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the custom scoring loop of reference
    main.py:162-167 as a vectorized group aggregate). Outputs are exact
    (integral sums, min/max selection), so the oracle matches bit-for-bit."""
    import pandas as pd

    def group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                "cnt": [len(pdf)],
                "sum_qty": [float(pdf["l_quantity"].sum())],
                "max_price": [float(pdf["l_extendedprice"].max())],
                "min_price": [float(pdf["l_extendedprice"].min())],
            }
        )

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").applyInPandas(
        group_stats,
        "l_returnflag string, l_linestatus string, cnt bigint, "
        "sum_qty double, max_price double, min_price double",
    )


_UDF_TABLE_ORACLE = """
SELECT n_name AS city, CAST(g AS INT) AS page
FROM nation, UNNEST(generate_series(1, n_nationkey + 1)) AS t(g)
WHERE n_nationkey < 3
"""


@register("udf_table", oracle=_UDF_TABLE_ORACLE, tags=("udf",))
def udf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: pagination fan-out (the reference's page loop,
    main.py:125-132) — one input row expands to its pages via a lateral
    table function."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="city string, page int")
    class Paginate:
        def eval(self, city: str, n: int):
            for p in range(1, n + 1):
                yield (city, p)

    spark.udtf.register("aqps_paginate", Paginate)
    nation = table(spark, sf_dir, "nation")
    nation.filter(F.col("n_nationkey") < 3).createOrReplaceTempView(
        scoped_view(spark, "aqps_udtf_input")
    )
    return spark.sql(
        "SELECT p.city, p.page FROM aqps_udtf_input, "
        "LATERAL aqps_paginate(n_name, n_nationkey + 1) p"
    )


# --- udtf_split: the true Python UDTF tier (Spark 4 @udtf) -------------------

_UDTF_ORACLE = r"""
SELECT doc_id,
       CAST(u.s.pos AS INTEGER) AS pos,
       u.s.token AS token
FROM (
  SELECT doc_id,
         unnest(list_transform(
           list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
           (x, i) -> {'pos': i - 1, 'token': x})) AS s
  FROM documents WHERE doc_id < 200
) u
"""


@register("udtf_split", oracle=_UDTF_ORACLE, tags=("udf", "udtf"))
def udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 4 ``@udtf``) — the
    row-to-N-rows extension tier the classic pandas UDF can't express:
    ``eval`` yields (position, token) rows per input document, consumed
    with LATERAL exactly like a built-in generator. This completes §2.J:
    udf_scalar (1→1, Arrow-vectorized), udf_agg (N→1), udf_table
    (group→table via applyInPandas), and now a true per-row table function
    registered into the SQL layer.

    The tokenizer itself is deliberately trivial (whitespace split —
    Python str.split ≡ the oracle's regex-split-and-drop-empties), because
    the point is the TIER: arbitrary Python generators running inside the
    plan. At scale the UDTF evaluates per partition over Arrow batches;
    the doc_id predicate lands BEFORE the lateral join so only the probed
    slice crosses the Python boundary (same gate as mm_decode). For pure
    tokenization the codegen path (llm_token_count's split+explode) is
    ~10x cheaper — the UDTF tier is for logic that genuinely needs Python
    (stateful parsers, third-party libraries).

    One planner fact this query encodes: Catalyst does NOT push filters
    through a Python UDTF (it cannot know the generator is row-wise pure),
    so the probe predicate must be written BELOW the lateral — an inline
    filtered subquery — or the whole corpus crosses the Python boundary
    and the filter runs on the exploded output. The plan gate asserts the
    pushed-to-scan placement."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class SplitTokens:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").split()):
                yield i, tok

    spark.udtf.register("udtf_split_tokens", SplitTokens)
    table(spark, sf_dir, "documents").createOrReplaceTempView(scoped_view(spark, "documents_v"))
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM (SELECT doc_id, text FROM documents_v WHERE doc_id < 200) d,
             LATERAL udtf_split_tokens(d.text) t
        """
    )


# --- udf_arrow: the Arrow-native scalar tier (Spark 4.1 @arrow_udf) ----------


@register("udf_arrow", oracle=_UDF_SCALAR_ORACLE, tags=("udf",))
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE scalar UDF (Spark 4.1 ``@arrow_udf``): the function
    receives ``pyarrow.Array`` batches directly and computes with
    ``pyarrow.compute`` kernels — no pandas materialization at all, one
    fewer copy than the pandas tier. With udf_scalar (pandas batches),
    udf_agg (grouped agg), udf_table (applyInPandas), and udtf_split
    (per-row table function), this completes every Python extension tier
    Spark 4 exposes.

    Same haversine computation and SAME oracle as udf_scalar / the pure
    codegen f_haversine — three implementations (JVM expression, pandas
    UDF, Arrow UDF) cross-checked against one DuckDB formula, which pins
    the batch-transfer layers against each other. ROUND(dist, 0) absorbs
    the ulp spread of the three trig stacks (the f_trig rule)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("double")
    def haversine_arrow(lat1, lon1, lat2, lon2):
        import math

        import pyarrow as pa
        import pyarrow.compute as pc

        rad = math.pi / 180.0
        rlat1 = pc.multiply(lat1, rad)
        rlat2 = pc.multiply(lat2, rad)
        dlat2 = pc.multiply(pc.subtract(lat2, lat1), rad / 2.0)
        dlon2 = pc.multiply(pc.subtract(lon2, lon1), rad / 2.0)
        s1 = pc.sin(dlat2)
        s2 = pc.sin(dlon2)
        a = pc.add(
            pc.multiply(s1, s1),
            pc.multiply(pc.multiply(pc.cos(rlat1), pc.cos(rlat2)), pc.multiply(s2, s2)),
        )
        root = pc.min_element_wise(pc.sqrt(a), pa.scalar(1.0, pa.float64()))
        return pc.multiply(pc.asin(root), 2.0 * 6371000.0)

    part = table(spark, sf_dir, "part")
    lat = (F.col("p_partkey") % 1800).cast("double") / 10.0 - 90.0
    lon = ((F.col("p_partkey") * 7) % 3600).cast("double") / 10.0 - 180.0
    return part.select(
        "p_partkey",
        F.round(haversine_arrow(lat, lon, F.lit(40.7128), F.lit(-74.006)), 0).alias(
            "dist_m"
        ),
    )
