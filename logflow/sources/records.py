"""Record-frame builders: the `numbers` topic model over batch inputs.

``records_from_events`` adapts the driver's ``events`` table into the
Kafka-record shape (FIXTURES.md §1.1) with a forged ``b3`` header — the
batch stand-in for ``spark.readStream.format("kafka")`` on topic `numbers`
(reference StreamsConfig.java:31).  ``numbers_fixture`` builds the exact
golden scenarios of the reference tests (values 1,2,3 / 4,5,6 / 8;
reference StreamsConfigTest.java:56-58, 74-76, 101-102).

Every derived value is a deterministic built-in expression so the DuckDB
oracle can reproduce it bit-for-bit (see logflow/queries/trace.py).
"""

from __future__ import annotations

import datetime
import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logflow.functions.headers import put_header
from logflow.functions.trace import b3_single_header, span_id_for, trace_id_for
from logflow.model import RECORD_SCHEMA, TOPIC_INPUT


def records_from_events(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) → record frame.

    value is a double in the testdata; the record value is
    ``floor(value)`` as a long — FLOOR (not a bare int cast) because the
    engine's oracle, DuckDB, rounds on double→int casts while Spark
    truncates; FLOOR is identical in both.
    """
    return events.select(*_record_columns())


@functools.cache
def _record_columns() -> tuple[Column, ...]:
    """The record projection, built on first use and shared by every call:
    Columns are immutable and session-free, and each expression node is a
    JVM round trip, so rebuilding them per query is pure planning cost."""
    value_int = F.floor(F.col("value")).cast("long")
    trace_id = trace_id_for("event_id")
    root_span = span_id_for("event_id")
    return (
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("key"),
        value_int.alias("value"),
        F.lit(TOPIC_INPUT).alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("ts"),
        put_header(
            F.lit(None).cast("array<struct<key:string,value:binary>>"),
            "b3",
            b3_single_header(trace_id, root_span),
        ).alias("headers"),
    )


def numbers_fixture(
    spark: SparkSession,
    values: list[int],
    key: str = "test-key",
    trace_id: str | None = None,
) -> DataFrame:
    """Golden fixture mirroring the reference's forged test records.

    One record per value, all under one key and one trace (the reference
    forges ``"%s-%d%s-1" % (traceId, number, spanId)`` per record —
    reference StreamsConfigTest.java:90-94).
    """
    trace_id = trace_id or ("f" * 32)
    base_ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            key,
            v,
            TOPIC_INPUT,
            0,
            i,
            base_ts + datetime.timedelta(seconds=i),
            [("b3", f"{trace_id}-{v:016x}-1".encode())],
        )
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, RECORD_SCHEMA)
