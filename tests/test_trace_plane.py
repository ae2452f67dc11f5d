"""Reference-contract tests: golden scenarios + oracle parity for the trace plane.

The three golden scenarios mirror the reference's end-to-end tests
(StreamsConfigTest.java:51-67, 69-88, 96-116): routing (values 1,2,3 →
even yields exactly 2), trace propagation (same traceId, NEW spanId), and
baggage propagation (messageid_8 survives to the sink headers).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logflow.functions.headers import header_value_str
from logflow.operators.branch import branch
from logflow.operators.topology import enrich_trace, route_even_odd, spans_from_records
from logflow.sources.records import numbers_fixture

TRACE = "abcd" * 8


def _route(spark, values):
    recs = numbers_fixture(spark, values, trace_id=TRACE)
    return route_even_odd(enrich_trace(recs))


def test_even_branch_yields_exactly_2(spark):
    even, odd = _route(spark, [1, 2, 3])
    assert [r.value for r in even.collect()] == [2]
    assert sorted(r.value for r in odd.collect()) == [1, 3]


def test_odd_branch_yields_exactly_5(spark):
    even, odd = _route(spark, [4, 5, 6])
    assert [r.value for r in odd.collect()] == [5]


def test_b3_header_same_trace_new_span(spark):
    # StreamsConfigTest.java:64-66: b3 startsWith(traceId), spanId changed.
    even, _ = _route(spark, [1, 2, 3])
    row = even.select(
        header_value_str("headers", "b3").alias("b3"),
        "trace_id",
        "span_id",
        "parent_span_id",
    ).collect()[0]
    assert row.b3.startswith(TRACE + "-")
    assert row.trace_id == TRACE
    assert row.span_id != row.parent_span_id
    assert row.b3 == f"{TRACE}-{row.span_id}-1"
    orig_span = f"{2:016x}"
    assert orig_span not in row.b3.split("-")[1]


def test_baggage_messageid_survives_to_sink(spark):
    # StreamsConfigTest.java:111: lastHeader("messageid") == "messageid_8".
    even, _ = _route(spark, [8])
    row = even.select(
        header_value_str("headers", "messageid").alias("mid"),
        F.col("baggage")["messageid"].alias("bag"),
    ).collect()[0]
    assert row.mid == "messageid_8"
    assert row.bag == "messageid_8"


def test_branch_law_union_and_disjoint(spark):
    recs = numbers_fixture(spark, list(range(20)), trace_id=TRACE)
    even, odd, default = branch(
        recs,
        F.pmod(F.col("value"), F.lit(2)) == 0,
        F.pmod(F.col("value"), F.lit(2)) == 1,
    )
    assert default.count() == 0
    assert even.count() + odd.count() == recs.count()
    assert even.intersect(odd).count() == 0
    assert even.unionByName(odd).exceptAll(recs).count() == 0


def test_branch_first_match_wins(spark):
    recs = numbers_fixture(spark, [0, 1, 2, 3, 4, 5], trace_id=TRACE)
    small, even, rest = branch(recs, F.col("value") < 3, F.pmod(F.col("value"), 2) == 0)
    assert sorted(r.value for r in small.collect()) == [0, 1, 2]
    assert sorted(r.value for r in even.collect()) == [4]  # 0,2 already taken
    assert sorted(r.value for r in rest.collect()) == [3, 5]


def test_span_chain_parents(spark):
    recs = numbers_fixture(spark, [7], trace_id=TRACE)
    spans = {r.name: r for r in spans_from_records(recs).collect()}
    assert set(spans) == {"consume", "set", "send"}
    assert spans["set"].parent_id == spans["consume"].span_id
    assert spans["send"].parent_id == spans["set"].span_id
    assert spans["consume"].parent_id == f"{7:016x}"
    assert len({s.span_id for s in spans.values()}) == 3
    assert {s.trace_id for s in spans.values()} == {TRACE}


TRACE_QUERIES = [
    "trace_route_even",
    "trace_route_odd",
    "trace_branch_law",
    "trace_search",
    "trace_tree_edges",
    "trace_summary",
    "trace_dependency_graph",
    "trace_log_summary",
    "trace_baggage_propagation",
    "source_custom_wirelog",
    "branch_multiway_value_bands",
]


@pytest.mark.parametrize("name", TRACE_QUERIES)
def test_oracle_parity(spark, duck, sf_dir, name):
    from tests.oracle import check_query

    check_query(spark, duck, name, sf_dir)


def test_baggage_propagation_is_complete(spark, sf_dir):
    # n_propagated == n_even proves the header plumbing end-to-end.
    from logflow.queries import load_all

    row = load_all()["trace_baggage_propagation"].fn(spark, sf_dir).collect()[0]
    assert row.n_propagated == row.n_even > 0


def test_wire_frame_bytes_matches_python_reference_framing(spark):
    """The JVM-side frame assembly (wire_frame_bytes) must be byte-identical
    to the pure-Python _write_frame reference codec — including empty
    headers, empty values, and multi-header frames."""
    import io

    from logflow.sources.wirelog import _write_frame, wire_frame_bytes

    rows = [
        (b"k1", b"\x00\x00\x00\x2a", [("b3", b"abc-def-1"), ("baggage", b"m=1")]),
        (b"", b"", []),
        (b"key-long" * 10, b"\xff\xfe\xfd\xfc", [("h", b"")]),
        (b"k4", b"\x01\x02\x03\x04", None),
    ]
    df = spark.createDataFrame(
        rows, "key binary, value binary, headers array<struct<key:string,value:binary>>"
    )
    got = [bytes(r.frame) for r in df.select(wire_frame_bytes().alias("frame")).collect()]
    want = []
    for key, value, headers in rows:
        buf = io.BytesIO()
        _write_frame(buf, key, value, headers or [])
        want.append(buf.getvalue())
    assert got == want


def _trace_plane():
    """The trace-plane registry entries: every query of logflow/queries/trace.py."""
    import logflow.queries.trace as trace_mod
    from logflow.queries import load_all

    return {n: q for n, q in load_all().items() if q.fn.__module__ == trace_mod.__name__}


def test_trace_plane_build_starts_no_job(spark, sf_dir, last_job_id):
    """Building a query (``q.fn``, no action) plans it and nothing more: no
    schema-inference job, no data-source planning job. The first build of
    each may land its derived dataset, so it is left out."""
    queries = _trace_plane()
    assert len(queries) == 12
    for q in queries.values():
        q.fn(spark, sf_dir)
    for name, q in queries.items():
        before = last_job_id()
        q.fn(spark, sf_dir)
        assert last_job_id() == before, f"{name} started a job while building"


def test_trace_plane_concurrent_first_build(spark, duck, sf_dir, monkeypatch):
    """Every trace query built at once, one thread each (more threads than
    cores, with a short switch interval), with the shared Column builders
    and the schema memo starting empty, still matches its DuckDB oracle."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import logflow.operators.topology as topology
    import logflow.queries.trace as trace_mod
    import logflow.sources.records as records
    import logflow.sources.tables as tables
    import logflow.streaming.sinks as sinks
    from tests.oracle import compare_frames

    for mod in (records, topology, sinks, trace_mod):
        for obj in vars(mod).values():
            if hasattr(obj, "cache_clear"):
                obj.cache_clear()
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    queries = _trace_plane()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(queries)) as pool:
            futures = {n: pool.submit(q.fn, spark, sf_dir) for n, q in queries.items()}
            built = {n: f.result(timeout=600) for n, f in futures.items()}
    finally:
        sys.setswitchinterval(interval)
    for name, df in built.items():
        compare_frames(df.toPandas(), duck.execute(queries[name].oracle).fetchdf(), name)
