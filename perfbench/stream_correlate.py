"""stream-correlate: open loop, the reference topology as a live stream.

A separate generator process (``generator.py``) writes Kafka-shaped record
files: first a backlog of ``BACKLOG`` records, like a consumer restarting
with lag, then ``RATE`` records per second in one file every ``TICK_S``
seconds. The engine runs

    file_record_stream → branch_writer(enrich_trace → route_even_odd)
        → parquet_sink (even) and parquet_sink (odd)

under a ``TRIGGER_S`` processing-time trigger. The catch-up phase is timed
from the query's start to the return of the sink call that wrote the last
backlog record. The batch after it also carries the live records made
while the backlog was written, so the live sample starts at the first
batch that reads no more than one trigger interval of input (read from
``recentProgress``). The live phase lasts at least ``--seconds`` and until
``LIVE_BATCHES`` such batches have run; a stream that does not get there
makes the run invalid. Each live record's latency runs from the creation
stamp the generator put in ``ts`` to the return of the sink call that
wrote it.

Warm-up, untimed: one streaming run over a small file, then the batch twin
of the backlog, which calls the same foreachBatch function on the whole
backlog; the peak-memory window starts after it. The batch
twin is the same topology run as a batch job over the same files; its
output for the live files is made after the stream stops. The sink output
is checked in DuckDB against the twin (a multiset difference per branch)
and row by row against the input files: every offset once, the branch law,
the trace id, the parent span, the child span id and the baggage.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from datagen import record_table
from generator import BACKLOG, RATE, TICK_S
from harness import InvalidRun, pct

#: processing-time trigger. A live batch has about 1.2 s of fixed cost on
#: 4 cores; at 2 s the engine was busy two thirds of the time, and on a
#: host running 1.5x slower the stream fell behind and latency grew
#: without bound. At 3 s it is busy about half the time.
TRIGGER_S = 3.0
#: a live file written later than this after it was due makes the run
#: invalid: its records would carry a creation time they did not have
LATE_LIMIT_S = 0.25
#: a batch is a steady live batch when it reads at most this many records:
#: one trigger interval of input, with room for a file more or less
STEADY_ROWS = int(RATE * TRIGGER_S * 1.25)
#: steady live batches the latency sample needs
LIVE_BATCHES = 4
#: how long after ``--seconds`` of live phase the stream may take to
#: deliver them
SETTLE_LIMIT_S = 30
WARMUP_RECORDS = 2_000

def run(ctx) -> dict:
    import logflow.streaming.branch_sink as branch_sink
    from logflow.model import RECORD_SCHEMA
    from logflow.streaming.sources import file_record_stream

    spark, tracer, counters = ctx.spark, ctx.tracer, ctx.counters
    paths = {k: os.path.join(ctx.work_dir, k) for k in (
        "in", "even", "odd", "ckpt", "twin_even", "twin_odd",
        "warm_in", "warm_even", "warm_odd", "warm_ckpt",
        "gen.ready", "gen.go", "gen.stop", "gen.log")}
    os.makedirs(paths["in"])
    os.makedirs(paths["warm_in"])

    def start(in_dir, ckpt, batch_fn, trigger):
        writer = file_record_stream(spark, in_dir).writeStream.foreachBatch(batch_fn)
        return writer.option("checkpointLocation", ckpt).trigger(**trigger).start()

    def writer_to(even, odd):
        return branch_sink.branch_writer(branch_sink.parquet_sink(paths[even]),
                                         branch_sink.parquet_sink(paths[odd]))

    def read_batch(files):
        return spark.read.schema(RECORD_SCHEMA).parquet(*files)

    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py"),
        "--out", paths["in"], "--seed", str(ctx.seed), "--ready", paths["gen.ready"],
        "--go", paths["gen.go"], "--stop", paths["gen.stop"], "--log", paths["gen.log"],
    ])
    query = None
    try:
        rng = np.random.default_rng([ctx.seed, 1])
        warm_file = os.path.join(paths["warm_in"], "part-0.parquet")
        pq.write_table(record_table(rng, 0, WARMUP_RECORDS, time.time()), warm_file)
        start(paths["warm_in"], paths["warm_ckpt"], writer_to("warm_even", "warm_odd"),
              {"availableNow": True}).awaitTermination()
        _wait(lambda: os.path.exists(paths["gen.ready"]), 30, "generator backlog", gen)
        backlog_files = sorted(os.path.join(paths["in"], f)
                               for f in os.listdir(paths["in"]) if f.endswith(".parquet"))
        twin = writer_to("twin_even", "twin_odd")
        twin(read_batch(backlog_files), 0)
        ctx.reset_mem_peak()
        ctx.phase("warmup")

        sink_log: list[tuple[int, str, float, float]] = []

        def timed_sink(branch: str):
            inner = branch_sink.parquet_sink(paths[branch])

            def write(df, batch_id):
                with tracer.span("streaming.sink"):
                    t0 = time.time()
                    inner(df, batch_id)
                    sink_log.append((batch_id, branch, t0, time.time()))

            return write

        tracer.wrap(branch_sink, "enrich_trace", "operators.enrich_trace")
        tracer.wrap(branch_sink, "route_even_odd", "operators.route_even_odd")
        writer = branch_sink.branch_writer(timed_sink("even"), timed_sink("odd"))

        def batch_fn(df, batch_id):
            with tracer.span("streaming.batch", counters):
                writer(df, batch_id)

        with open(paths["gen.go"], "w") as fh:
            fh.write("go\n")
        t_query = time.time()
        query = start(paths["in"], paths["ckpt"], batch_fn,
                      {"processingTime": f"{TRIGGER_S} seconds"})
        _wait(lambda: _processed(query) >= BACKLOG, 60, "backlog drain", gen, query)
        live_end = time.time() + ctx.seconds
        try:
            _wait(lambda: time.time() >= live_end
                  and len(_steady(_batches(query.recentProgress, []))) >= LIVE_BATCHES,
                  ctx.seconds + SETTLE_LIMIT_S, "live phase", gen, query)
        except TimeoutError:
            raise InvalidRun(f"fewer than {LIVE_BATCHES} batches of at most {STEADY_ROWS} "
                             f"records within {ctx.seconds + SETTLE_LIMIT_S:g} s of the drain") from None
    except BaseException:
        if query is not None:
            query.stop()
        raise
    finally:
        with open(paths["gen.stop"], "w") as fh:
            fh.write("stop\n")
        try:
            gen.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()
            raise
    with open(paths["gen.log"]) as fh:
        files = json.load(fh)["files"]
    total = sum(f["n"] for f in files)
    try:
        _wait(lambda: _processed(query) >= total, 30, "final batches", None, query)
    finally:
        progress = query.recentProgress
        query.stop()
    mem_mb = ctx.mem_peak_mb()
    tracer.unwrap_all()
    ctx.phase("measure")

    late = [f["written"] - f["due"] for f in files if f["live"]]
    late_s = max(late) if late else 0.0
    if late_s > LATE_LIMIT_S:
        raise InvalidRun(f"generator ran {late_s:.3f} s behind schedule (limit {LATE_LIMIT_S} s)")

    live_files = sorted(set(os.path.join(paths["in"], f) for f in os.listdir(paths["in"])
                            if f.endswith(".parquet")) - set(backlog_files))
    if live_files:
        twin(read_batch(live_files), 1)
    failed, out = _verify(paths, total)
    ctx.phase("verify")

    returns = {(b, br): t1 for b, br, _, t1 in sink_log}
    ret = np.array([returns[(b, br)] for b, br in zip(out["batch"], out["branch"])])
    created = out["ts_us"].to_numpy() / 1e6
    drained = ret[out["offset"].to_numpy() < BACKLOG].max()
    drain_rps = BACKLOG / (drained - t_query)

    batches = _batches(progress, sink_log)
    live_batches = _steady(batches)
    lat = (ret - created)[out["batch"].isin([b["id"] for b in live_batches]).to_numpy()]
    report = {
        "stream_drain_rps": {"value": drain_rps, "unit": "1/s", "samples": BACKLOG},
        "stream_latency_p50_s": {"value": pct(lat, 50), "unit": "s", "samples": int(lat.size)},
        "stream_latency_p99_s": {"value": pct(lat, 99), "unit": "s", "samples": int(lat.size)},
        "rate_per_s": RATE, "trigger_s": TRIGGER_S, "tick_s": TICK_S, "backlog": BACKLOG,
        "records": total, "batches": len(batches), "live_batches": len(live_batches),
    }
    e2e = {
        "latency_p50_s": pct(lat, 50),
        "latency_tail_s": pct(lat, 99),
        "throughput_per_s": drain_rps,
    }
    layers = {
        "generator.late_s": late_s,
        "streaming.rows_out_per_in": len(out) / total,
        "streaming.backlog_max_records": _backlog_max(batches, live_batches, files),
    }
    if tracer.enabled:
        layers.update(_layers(tracer, batches, live_batches, drained, paths, total))
    return {
        "attempted": total, "failed": failed, "errors": [] if not failed else
        [f"{failed} of {total} records missing, duplicated or wrong in the sinks"],
        "e2e": e2e, "report": report, "layers": layers, "mem_peak_mb": mem_mb,
    }


def _wait(cond, timeout_s, what, gen=None, query=None) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"stream failed during {what}: {query.exception()}")
        if gen is not None and gen.poll() is not None:
            raise RuntimeError(f"generator exited with {gen.returncode} during {what}")
        if time.time() > deadline:
            raise TimeoutError(f"{what} did not finish within {timeout_s} s")
        # Sink return times are logged by the sink itself; this poll only
        # decides when to move on, so it can be slow and stay off the cores.
        time.sleep(0.2)


def _processed(query) -> int:
    return sum(p.numInputRows for p in query.recentProgress)


def _verify(paths, total: int):
    """Check the sinks; returns (records missing, duplicated or wrong,
    one row per sink record with its branch, batch, offset and ts)."""
    import duckdb

    def branches(even, odd):
        return f"""
            SELECT 'even' AS branch, * FROM read_parquet('{paths[even]}/*/*.parquet', hive_partitioning = true)
            UNION ALL BY NAME
            SELECT 'odd' AS branch, * FROM read_parquet('{paths[odd]}/*/*.parquet', hive_partitioning = true)"""

    compared = """branch, key, value, topic, "partition", "offset", epoch_us(ts), trace_id,
                  parent_span_id, span_id, sampled, map_extract(baggage, 'messageid')[1]"""
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE VIEW inp AS
            SELECT "offset" AS off, key, value, epoch_us(ts) AS ts_us,
                   decode(headers[1].value) AS b3
            FROM read_parquet('{paths["in"]}/*.parquet')""")
        con.execute(f"CREATE VIEW outp AS {branches('even', 'odd')}")
        con.execute(f"CREATE VIEW twin AS {branches('twin_even', 'twin_odd')}")
        n_in, n_out, n_distinct, n_missing, n_wrong, n_not_twin, n_twin_only = con.execute(f"""
            SELECT
              (SELECT count(*) FROM inp),
              (SELECT count(*) FROM outp),
              (SELECT count(DISTINCT "offset") FROM outp),
              (SELECT count(*) FROM inp ANTI JOIN outp ON inp.off = outp."offset"),
              (SELECT count(*) FROM outp JOIN inp ON inp.off = outp."offset"
               WHERE NOT coalesce(
                     outp.key = inp.key AND outp.value = inp.value
                 AND epoch_us(outp.ts) = inp.ts_us
                 AND (outp.branch = 'even') = (inp.value % 2 = 0)
                 AND outp.topic = CASE WHEN inp.value % 2 = 0 THEN 'even-numbers' ELSE 'odd-numbers' END
                 AND outp.trace_id = split_part(inp.b3, '-', 1)
                 AND outp.parent_span_id = split_part(inp.b3, '-', 2)
                 AND outp.span_id = substr(md5(outp.trace_id || ':set:' || CAST(inp.off AS VARCHAR)), 1, 16)
                 AND outp.sampled
                 AND map_extract(outp.baggage, 'messageid')[1] = 'messageid_' || CAST(inp.value AS VARCHAR),
                 false)),
              (SELECT count(*) FROM (SELECT {compared} FROM outp EXCEPT ALL SELECT {compared} FROM twin)),
              (SELECT count(*) FROM (SELECT {compared} FROM twin EXCEPT ALL SELECT {compared} FROM outp))
        """).fetchone()
        out = con.execute("""SELECT branch, batch, "offset", epoch_us(ts) AS ts_us FROM outp""").fetchdf()
    finally:
        con.close()
    wrong = n_missing + (n_out - n_distinct) + n_wrong + abs(n_in - total)
    return max(wrong, n_not_twin, n_twin_only), out


def _batches(progress, sink_log) -> list[dict]:
    """One entry per micro-batch that read data, in batch order."""
    sink_ms: dict[int, float] = {}
    for b, _, t0, t1 in sink_log:
        sink_ms[b] = sink_ms.get(b, 0.0) + (t1 - t0) * 1000.0
    seen = {}
    for p in progress:
        if p.numInputRows > 0:
            seen[p.batchId] = {
                "id": p.batchId,
                "rows": p.numInputRows,
                "start": datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "ms": dict(p.durationMs),
                "sink_ms": sink_ms.get(p.batchId, 0.0),
            }
    return [seen[k] for k in sorted(seen)]


def _steady(batches) -> list[dict]:
    """The live batches the latency sample comes from: every batch from the
    first one after the backlog is taken that reads at most ``STEADY_ROWS``."""
    taken = 0
    for i, b in enumerate(batches):
        taken += b["rows"]
        if taken >= BACKLOG:
            break
    else:
        return []
    for j in range(i + 1, len(batches)):
        if batches[j]["rows"] <= STEADY_ROWS:
            return batches[j:]
    return []


def _backlog_max(batches, live, files) -> float:
    """Most records written but not yet taken by a batch, at the start of
    any batch of the live sample."""
    live_ids = {b["id"] for b in live}
    worst = 0
    taken = 0
    for b in batches:
        if b["id"] in live_ids:
            written = sum(f["n"] for f in files if f["written"] <= b["start"])
            worst = max(worst, written - taken)
        taken += b["rows"]
    return float(worst)


def _layers(tracer, batches, live, drained, paths, total) -> dict[str, float]:
    catchup = [b for b in batches if b["start"] <= drained]
    med = statistics.median

    def ms(group, key):
        vals = [b["ms"].get(key, 0.0) for b in group]
        return float(med(vals)) if vals else 0.0

    live_wall = (live[-1]["start"] + live[-1]["ms"]["triggerExecution"] / 1000.0
                 - live[0]["start"]) if live else 0.0
    sink_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for br in ("even", "odd") for root, _, fs in os.walk(paths[br])
        for f in fs if f.endswith(".parquet"))
    layer = {
        "streaming.latest_offset_ms": ms(live, "latestOffset"),
        "streaming.query_planning_ms": ms(live, "queryPlanning"),
        "streaming.wal_commit_ms": ms(live, "walCommit"),
        "streaming.commit_offsets_ms": ms(live, "commitOffsets"),
        "streaming.trigger_ms": ms(live, "triggerExecution"),
        "streaming.add_batch_ms": ms(catchup, "addBatch"),
        "streaming.sink_ms": float(med(b["sink_ms"] for b in catchup)) if catchup else 0.0,
        "streaming.sink_bytes": sink_bytes / total,
        "streaming.rows_per_batch_p50": float(med(b["rows"] for b in batches)),
        "streaming.busy_frac": (sum(b["ms"]["triggerExecution"] for b in live) / 1000.0 / live_wall
                                if live_wall > 0 else 0.0),
    }
    batch_spans = tracer.by_name("streaming.batch")
    for k in batch_spans[0]["counts"] if batch_spans else ():
        layer[k] = sum(s["counts"][k] for s in batch_spans)
    for name, s in tracer.self_time_by_layer().items():
        layer[f"self_s.{name}"] = s / max(len(batch_spans), 1)
    layer["tracing.overhead_s"] = tracer.overhead_s
    return layer
