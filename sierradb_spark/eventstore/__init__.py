from sierradb_spark.eventstore.schema import EVENT_SCHEMA
from sierradb_spark.eventstore.store import AppendRequest, AppendResult, EventStore

__all__ = [
    "EVENT_SCHEMA",
    "AppendRequest",
    "AppendResult",
    "EventStore",
]
