"""kinesumer_spark — a PySpark-native analytics engine with the capability
surface of daangn/kinesumer (a Kinesis consumer-group client), rebuilt
Spark-first.

The reference (/root/reference, daangn/kinesumer) is a client-side
distributed stream-ingestion library: partitioned, checkpointed,
rebalancing, at-least-once delivery of opaque records (kinesumer.go:97-102)
coordinated through a DynamoDB state store (statestore.go). On Spark,
nearly all of that machinery is built into Structured Streaming; this
package exposes

- ``streaming/`` — the consumer-group parity surface: ``Engine.consume``
  returning a streaming DataFrame in the reference's record envelope
  (RECORD_SCHEMA), checkpoint/mark/commit parity, the consumer_state
  observability view (statemodel.go:17-53 analog).
- ``operators/`` — the declared relational/analytic surface (SURVEY.md
  §2.2): projections, joins, aggregations, window functions, set ops,
  plus LLM-pipeline extensions (dedup, similarity search, text analysis).
- ``functions/`` — scalar helpers (sequence-number ordering, envelope
  construction, vector math).
- ``sources/`` / ``plans/`` — batch/stream source adapters and plan
  inspection utilities (pushdown/broadcast audits).
"""

from kinesumer_spark import zipcache as _zipcache

_zipcache.install()

from kinesumer_spark.session import get_spark  # noqa: E402
from kinesumer_spark.catalog import TABLES, load_tables  # noqa: E402


def __getattr__(name):
    # lazy: Engine/StreamSource pull in the streaming stack only on use
    if name in ("Engine", "StreamSource", "CommitConfig"):
        from kinesumer_spark.streaming import engine as _engine

        return getattr(_engine, name)
    raise AttributeError(name)


__all__ = ["get_spark", "load_tables", "TABLES", "Engine", "StreamSource", "CommitConfig"]
__version__ = "0.1.0"
