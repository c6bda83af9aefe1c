"""Payload schema-on-read helpers + strict-versioning mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.functions.payload import (
    payload_field,
    payload_json,
    with_payload_fields,
)


def test_payload_json_roundtrip(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "s"), EngineConfig())
    store.append(
        [
            AppendRequest("p1", "E", payload=b'{"name":"ada","age":36}'),
            AppendRequest("p1", "E", payload=b"not json"),
        ]
    )
    df = with_payload_fields(store.scan("p1"), name="$.name", age="$.age")
    rows = df.orderBy("stream_version").collect()
    assert (rows[0]["name"], rows[0]["age"]) == ("ada", "36")
    assert rows[1]["name"] is None  # malformed → NULL, never an error
    typed = store.scan("p1").select(
        payload_json("payload", "name string, age int").alias("j")
    ).orderBy(F.col("j").isNull()).collect()
    assert typed[0]["j"]["age"] == 36


def test_strict_versioning_rejects_any_exists(spark, tmp_path):
    store = EventStore(
        spark,
        str(tmp_path / "s2"),
        EngineConfig(strict_versioning=True),
    )
    # eappend.rs:180-188: strict mode rejects ANY/EXISTS before routing
    with pytest.raises(ValueError, match="strict"):
        store.append([AppendRequest("s", "E", expected_version="any")])
    with pytest.raises(ValueError, match="strict"):
        store.append([AppendRequest("s", "E", expected_version="exists")])
    res = store.append([AppendRequest("s", "E", expected_version="empty")])
    assert res[0].accepted and res[0].stream_version == 0
    res = store.append([AppendRequest("s", "E", expected_version="0")])
    assert res[0].accepted and res[0].stream_version == 1
