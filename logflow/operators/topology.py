"""The reference topology as DataFrame transformations (SURVEY §2 T1-T4, K1-K2, P1, P3).

Reference dataflow (StreamsConfig.java:30-52):

    stream("numbers") → transformValues(tracing.peek("set", …baggage…))
      → branch(v % 2 == 0 → "even-numbers", default → "odd-numbers")

Here each stage is a column derivation (side-effect free — an upgrade over
mutation, same observable contract), branching is complementary filters,
and spans/logs are first-class DataFrames instead of an external Zipkin.

Span ids are deterministic md5 derivations (logflow.functions.trace) so the
whole topology is reproducible and idempotent under micro-batch replay.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logflow.functions.headers import header_value_str, put_header
from logflow.functions.trace import b3_single_header, child_span_id, parse_b3
from logflow.model import TOPIC_EVEN, TOPIC_ODD
from logflow.operators.branch import branch_conditions

SERVICE = "numbers-app"

#: (stage_index, span name) for the per-record span chain.  consume = the
#: source-side span; set = the enrich stage (reference StreamsConfig.java:32-37);
#: send = the sink produce span (reference StreamsConfig.java:46,50).
STAGES = [(0, "consume"), (1, "set"), (2, "send")]


def enrich_trace(records: DataFrame, stage: str = "set") -> DataFrame:
    """T1: traced enrich-transform (reference `peek("set")`).

    Decodes the ``b3`` header into trace context, opens a deterministic
    child span for the stage, writes the ``messageid`` baggage field
    (reference StreamsConfig.java:35: ``"messageid_" + v``), and re-encodes
    both into the outgoing headers so downstream stages / sinks see them.
    Two projections: the context columns, then the columns derived from
    them (the re-encoded headers carry the new span id).
    """
    context, stamped = _enrich_columns(stage)
    return records.withColumns(dict(context)).withColumns(dict(stamped))


# The projections below are built on first use and shared by every call:
# Columns are immutable and session-free, and each expression node is a
# JVM round trip, so rebuilding them per query or per micro-batch is pure
# planning cost.


@functools.cache
def _enrich_columns(stage: str) -> tuple[tuple[tuple[str, Column], ...], ...]:
    ctx = parse_b3(header_value_str("headers", "b3"))
    context = (
        ("trace_id", ctx["trace_id"]),
        ("parent_span_id", ctx["span_id"]),
        ("sampled", ctx["sampled"]),
    )
    span_id = child_span_id(F.col("trace_id"), stage, F.col("offset"))
    messageid = F.concat(F.lit("messageid_"), F.col("value").cast("string"))
    stamped = (
        ("span_id", span_id),
        ("baggage", F.create_map(F.lit("messageid"), messageid)),
        (
            "headers",
            put_header(
                put_header("headers", "b3", b3_single_header(F.col("trace_id"), span_id)),
                "messageid",
                messageid,
            ),
        ),
    )
    return context, stamped


def route_even_odd(enriched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """T2 + K1/K2: branch on ``value % 2 == 0`` and stamp the sink topic.

    Returns (even, odd), each with ``topic`` rewritten to its sink topic —
    the batch analog of ``KStream.to(topic)``.  Headers (b3 + baggage)
    ride along untouched, matching the reference's propagation guarantee
    (README.adoc:119).
    """
    even, odd, even_topic, odd_topic = _route_columns()
    return (
        enriched.filter(even).withColumn("topic", even_topic),
        enriched.filter(odd).withColumn("topic", odd_topic),
    )


@functools.cache
def _route_columns() -> tuple[Column, Column, Column, Column]:
    even, odd = branch_conditions(F.pmod(F.col("value"), F.lit(2)) == 0)
    return even, odd, F.lit(TOPIC_EVEN), F.lit(TOPIC_ODD)


def spans_from_records(records: DataFrame) -> DataFrame:
    """P1: materialize the per-record span chain as a spans DataFrame.

    Three spans per record — consume → set → send — same trace_id, fresh
    deterministic span id per stage, parent chained to the previous stage
    (root parent = the producer span carried in ``b3``).  Mirrors the log
    transcript in reference README.adoc:98-108 (one traceId, three spanIds).

    Single-pass: stages are inlined via ``inline(array(...))`` (one scan,
    no self-union) — at 100 TB this matters: the 3× row expansion happens
    pipelined inside the scan stage, no shuffle.
    """
    base, chain, out = _span_columns()
    return records.select(*base).select(*chain).select(*out)


@functools.cache
def _span_columns() -> tuple[tuple[Column, ...], tuple[Column, ...], tuple[Column | str, ...]]:
    ctx = parse_b3(header_value_str("headers", "b3"))
    base = (
        F.col("offset"),
        F.col("value"),
        F.col("ts"),
        ctx["trace_id"].alias("trace_id"),
        ctx["span_id"].alias("root_span_id"),
    )
    even = F.pmod(F.col("value"), F.lit(2)) == 0
    sink_topic = F.when(even, F.lit(TOPIC_EVEN)).otherwise(F.lit(TOPIC_ODD))

    def stage_struct(idx: int, name: str):
        span = child_span_id(F.col("trace_id"), name, F.col("offset"))
        if idx == 0:
            parent = F.col("root_span_id")
            remote = F.lit("kafka")
            topic = F.lit("numbers")
        elif idx == 1:
            parent = child_span_id(F.col("trace_id"), "consume", F.col("offset"))
            remote = F.lit(None).cast("string")
            topic = F.lit(None).cast("string")
        else:
            parent = child_span_id(F.col("trace_id"), "set", F.col("offset"))
            remote = F.lit("kafka")
            topic = sink_topic
        # Deterministic duration: pure integer arithmetic reproducible in
        # the DuckDB oracle (no RNG — SURVEY §4.2).
        duration = (
            F.pmod(F.col("value") * 7 + F.col("offset") * 13 + F.lit(idx * 101), F.lit(5000)) + 50
        ).cast("long")
        return F.struct(
            F.lit(name).alias("name"),
            span.alias("span_id"),
            parent.alias("parent_id"),
            remote.alias("remote_service"),
            topic.alias("kafka_topic"),
            F.timestamp_add("MILLISECOND", F.lit(idx), F.col("ts")).alias("ts"),
            duration.alias("duration_us"),
        )

    stages = F.array(*[stage_struct(i, n) for i, n in STAGES])
    chain = (F.col("trace_id"), F.inline(stages))
    out = (
        "trace_id",
        "span_id",
        "parent_id",
        "name",
        F.lit(SERVICE).alias("service"),
        "remote_service",
        "ts",
        "duration_us",
        "kafka_topic",
    )
    return base, chain, out


def rewrite_remote_service(spans: DataFrame) -> DataFrame:
    """P3: span finish-hook rewrite (reference KafkaStreamsLogCorrelationApplication.java:20-32).

    Spans tagged with ``kafka.topic`` get ``remote_service → remote_service/topic``
    so the dependency graph disambiguates per-topic edges.
    """
    return spans.withColumn("remote_service", _remote_service_column())


@functools.cache
def _remote_service_column() -> Column:
    return F.when(
        F.col("kafka_topic").isNotNull() & F.col("remote_service").isNotNull(),
        F.concat_ws("/", F.col("remote_service"), F.col("kafka_topic")),
    ).otherwise(F.col("remote_service"))


def logs_from_records(records: DataFrame) -> DataFrame:
    """T3/T4: the correlated log plane as a DataFrame.

    Two rows per record: a traced `set`-stage row (trace ids + baggage —
    reference StreamsConfig.java:36) and, for odd records, an UNtraced
    `peek` row with NULL trace columns (the reference's negative example,
    README.adoc:112-119, ``INFO [app,,,]``).  Even records instead get a
    traced `even`-stage row (reference StreamsConfig.java:42-45).
    """
    rows, out = _log_columns()
    return enrich_trace(records).select(*rows).select(*out)


@functools.cache
def _log_columns() -> tuple[tuple[Column, ...], tuple[Column | str, ...]]:
    even_pred = F.pmod(F.col("value"), F.lit(2)) == 0
    msg_val = F.col("value").cast("string")

    set_row = F.struct(
        F.col("trace_id").alias("trace_id"),
        F.col("span_id").alias("span_id"),
        F.lit(True).alias("exportable"),
        F.lit("logflow.topology.set").alias("logger"),
        F.concat(F.lit("Processing: "), msg_val).alias("message"),
        F.col("baggage").alias("baggage"),
    )
    even_row = F.struct(
        F.col("trace_id").alias("trace_id"),
        child_span_id(F.col("trace_id"), "even", F.col("offset")).alias("span_id"),
        F.lit(True).alias("exportable"),
        F.lit("logflow.topology.even").alias("logger"),
        F.concat(F.lit("Handling even number: "), msg_val).alias("message"),
        F.col("baggage").alias("baggage"),
    )
    odd_row = F.struct(
        F.lit(None).cast("string").alias("trace_id"),
        F.lit(None).cast("string").alias("span_id"),
        F.lit(None).cast("boolean").alias("exportable"),
        F.lit("logflow.topology.odd").alias("logger"),
        F.concat(F.lit("Handling odd number: "), msg_val).alias("message"),
        F.lit(None).cast("map<string,string>").alias("baggage"),
    )
    rows = F.array(set_row, F.when(even_pred, even_row).otherwise(odd_row))
    out = (
        "ts",
        F.lit("INFO").alias("level"),
        F.lit(SERVICE).alias("app"),
        "trace_id",
        "span_id",
        "exportable",
        "logger",
        "message",
        "baggage",
    )
    return (F.col("ts"), F.inline(rows)), out
