"""air_quality_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline (``tomsongracz/air-quality-data-pipeline``,
a single-file OpenAQ ETL cloud function), generalized into a complete analytics
engine: relational operators, scalar functions, window functions, time-windowed
and streaming aggregation, UDF tiers, file/REST sources, CSV/Parquet sinks, and
LLM-data-pipeline operators (dedup, similarity search, text analysis, multimodal
columns).

Design principles:
- Declarative DataFrame/SQL plans; Catalyst + AQE pick physical strategies.
- No driver-side collects in any operator; everything scales by partitioning.
- Built-in JVM expressions over Python UDFs; Arrow-batched pandas UDFs where
  Python is unavoidable.
- Broadcast hints for dimension joins; decimal-exact aggregation where results
  must be reproducible across engines and partitionings.
"""

__version__ = "0.1.0"

from .registry import QUERIES, register, load_all_queries  # noqa: F401
from .session import get_spark  # noqa: F401
from .tables import TABLE_NAMES, table  # noqa: F401
