"""PySpark-native analytics engine with the query and data-processing
capabilities of the ``substreams-sink-clickhouse`` reference sink.

Two layers (SURVEY.md §7):

* **Ingest layer** — Structured-Streaming CDC pipeline reproducing the
  reference's buffered keyed-upsert semantics
  (``/root/reference/db/ops.go:11-122``) with Spark-distributed merge,
  parquet table state, and a per-module cursor committed in the same
  atomic manifest swap as the tables (reference ``db/cursor.go``).
* **Query layer** — the relational surface the reference delegates to
  ClickHouse (SURVEY.md §2.2), expressed as Spark SQL / DataFrame plans,
  plus large-scale training-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal columns).

Everything is DataFrame-first: logical plans go through Catalyst; no
driver-side loops over collected data in any hot path.
"""

from substreams_sink_clickhouse_spark.session import get_spark, tune_session

__all__ = ["get_spark", "tune_session"]

__version__ = "0.1.0"
