"""near_event_streams_spark — a PySpark-native analytics & streaming engine.

A from-scratch re-expression of the capabilities of the reference system
``sigilnet/near-event-streams`` (a Rust streaming ETL that extracts NEP-297
events from NEAR blockchain blocks and routes them to Kafka), built
Spark-first:

* **Parity layer** (``operators.extract``, ``operators.routing``,
  ``streaming.job``): the reference's dataflow — explode blocks → shards →
  outcomes → logs, filter ``EVENT_JSON:`` lines, parse + validate, stamp
  provenance, whitelist / blacklist, 2-topic fan-out — as one declarative
  plan that ``cli run`` starts as a Structured Streaming query. The
  reference's NEP-171 flatten, NFT-metadata enrichment (the
  ``…_metadata`` topic) and topic creation are not ported; their
  ``nes.toml`` keys are accepted and ignored.
* **Analytics layer** (``plans.analytics``): the relational query surface
  the reference delegates to downstream Kafka consumers, expressed over
  Spark SQL built-ins with a DuckDB oracle harness.
* **LLM-pipeline layer** (``operators.dedup``, ``operators.similarity``,
  ``operators.text``, ``operators.multimodal``): deduplication, similarity
  search, text analysis and multimodal-column plumbing designed for
  100 TB-scale partitioned execution.
"""

from near_event_streams_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"
