"""trace-query: closed loop, one client, passes over the trace-plane queries.

Every query registered by ``logflow/queries/trace.py`` runs once per pass
over a seeded ``events`` table: build (``q.fn``, which plans and may start
eager jobs), then execute (``toPandas``). The client waits for each result
before it sends the next query. After each query the library caches are
released (``release_all`` and ``clearCache``). Outside the timed region each
result is compared with the query's DuckDB oracle by
``tests/oracle.compare_frames``. One untimed warm-up pass comes first,
its queries run concurrently; its results are checked too, and the
peak-memory window starts after it. The measured passes go on for at least
``--seconds`` and at least ``MIN_PASSES`` passes.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import harness
from datagen import write_events

#: rows in the generated events table, as in the sf0.01 test table. On
#: 4 cores a warm pass spends about 4.5 s building plans and 3.7 s
#: executing them, of which about 0.5 s grows with the row count; at the
#: sf0.1 size (100 000 rows) execution takes 8.6 s and the cold pass 53 s,
#: more than one run can spend.
EVENTS = 10_000
#: Zipf exponent of user_id over the 150 users
USER_SKEW = 1.0
#: fewest measured passes, so each percentile pools at least 36 samples
MIN_PASSES = 3
#: percentile reported as the end-to-end tail: the highest one with about
#: ten samples above it at 36 samples. The p90 has 3 or 4 above it, which
#: fall in the gap between the slowest query and the rest.
TAIL_PCT = 75


def run(ctx) -> dict:
    import duckdb

    import logflow.queries.trace as trace_mod
    from logflow.operators.cache import release_all
    from logflow.sources.tables import load_table
    from tests.oracle import compare_frames

    spark, registry, tracer, counters = ctx.spark, ctx.registry, ctx.tracer, ctx.counters
    sf_dir = os.path.join(ctx.work_dir, "sf")
    os.makedirs(sf_dir)
    events_path = os.path.join(sf_dir, "events.parquet")
    write_events(events_path, EVENTS, ctx.seed, USER_SKEW)

    names = [n for n, q in registry.items() if q.fn.__module__ == trace_mod.__name__]
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    expected = {n: duck.execute(registry[n].oracle).fetchdf() for n in names}
    duck.close()
    ctx.phase("data")

    tracer.wrap(trace_mod, "load_table", "sources.load_table")
    tracer.wrap(trace_mod, "records_from_events", "sources.records_from_events")
    for op in ("enrich_trace", "route_even_odd", "spans_from_records",
               "logs_from_records", "rewrite_remote_service"):
        tracer.wrap(trace_mod, op, f"operators.{op}")

    outcomes: list[str | None] = []  # one per query execution: its error or None
    runs: list[dict] = []  # one per measured query execution
    passes: list[dict] = []

    def one_query(name: str, pass_no: int | None) -> str | None:
        """Run and check one query; record its timings unless ``pass_no`` is
        None. Returns what went wrong, or None."""
        try:
            with tracer.span("queries.build", counters) as b:
                t0 = time.perf_counter()
                df = registry[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
            with tracer.span("spark.exec", counters) as e:
                got = df.toPandas()
                t2 = time.perf_counter()
        except Exception:
            return f"{name}: {traceback.format_exc(limit=4)}"
        finally:
            with tracer.span("cache.release_all"):
                t3 = time.perf_counter()
                released = release_all()
                spark.catalog.clearCache()
                t4 = time.perf_counter()
        try:
            compare_frames(got, expected[name], name)
        except AssertionError as exc:
            return str(exc)
        if pass_no is not None:
            runs.append({
                "query": name, "pass": pass_no,
                "build_s": t1 - t0, "exec_s": t2 - t1,
                "release_s": t4 - t3, "released": released,
                "build_jobs": b["counts"]["spark.jobs"] if b else None,
                "exec_jobs": e["counts"]["spark.jobs"] if e else None,
            })
        return None

    def one_pass() -> None:
        pass_no = len(passes)
        scan_s = None
        if traced_run:
            with tracer.span("sources.scan"):
                t0 = time.perf_counter()
                load_table(spark, "events", sf_dir).write.format("noop").mode("overwrite").save()
                scan_s = time.perf_counter() - t0
        before = tracer.snapshot(counters) if traced_run else None
        outcomes.extend(one_query(name, pass_no) for name in names)
        mine = [r for r in runs if r["pass"] == pass_no]
        passes.append({
            "seconds": sum(r["build_s"] + r["exec_s"] for r in mine),
            "scan_s": scan_s,
            "counts": counters.delta(before, tracer.snapshot(counters)) if before else None,
        })

    # The warm-up pass runs its queries on one thread per core: a query's
    # first run is mostly single-threaded class loading, code generation and
    # Python worker start-up, so on 4 cores it takes about 30 s where a
    # serial pass takes about 40 s, time the measured passes get instead.
    traced_run = tracer.enabled
    tracer.enabled = False
    with ThreadPoolExecutor(max_workers=harness.nproc()) as pool:
        outcomes.extend(pool.map(lambda name: one_query(name, None), names))
    tracer.enabled = traced_run
    ctx.reset_mem_peak()
    ctx.phase("warmup")
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        one_pass()
    ctx.phase("measure")

    lat = [r["build_s"] + r["exec_s"] for r in runs]
    pass_s = [p["seconds"] for p in passes]
    pass_med = statistics.median(pass_s) if pass_s else float("nan")
    report = {
        "trace_query_p50_s": {"value": harness.pct(lat, 50), "unit": "s", "samples": len(lat)},
        "trace_query_p75_s": {"value": harness.pct(lat, TAIL_PCT), "unit": "s", "samples": len(lat)},
        "trace_query_p90_s": {"value": harness.pct(lat, 90), "unit": "s", "samples": len(lat)},
        "trace_pass_s": {"value": pass_med, "unit": "s", "samples": len(pass_s)},
        "queries_per_pass": len(names),
        "query_s": {n: statistics.median(r["build_s"] + r["exec_s"] for r in runs if r["query"] == n)
                    for n in names if any(r["query"] == n for r in runs)},
        "events": EVENTS,
        "user_skew": USER_SKEW,
    }
    mem_mb = ctx.mem_peak_mb()
    e2e = {
        "latency_p50_s": harness.pct(lat, 50),
        "latency_tail_s": harness.pct(lat, TAIL_PCT),
        "throughput_per_s": len(names) / pass_med,
    }
    layers = {}
    if traced_run:
        layers = _layers(tracer, runs, passes, names)
    errors = [o for o in outcomes if o is not None]
    return {
        "attempted": len(outcomes), "failed": len(errors), "errors": errors,
        "e2e": e2e, "report": report, "layers": layers, "mem_peak_mb": mem_mb,
    }


def _layers(tracer, runs, passes, names) -> dict[str, float]:
    med = statistics.median

    def per_pass(key):
        return med(sum(r[key] for r in runs if r["pass"] == i) for i in range(len(passes)))

    out = {
        "queries.build_s": med(r["build_s"] for r in runs),
        "queries.exec_s": med(r["exec_s"] for r in runs),
        "queries.build_jobs": per_pass("build_jobs"),
        "queries.exec_jobs": per_pass("exec_jobs"),
        "sources.load_table_s": med(s["end"] - s["start"] for s in tracer.by_name("sources.load_table")),
        "sources.scan_s.events": med(p["scan_s"] for p in passes),
        "cache.released": sum(r["released"] for r in runs) / len(passes),
        "cache.release_s": med(r["release_s"] for r in runs),
    }
    for name in names:
        mine = [r for r in runs if r["query"] == name]
        out[f"query.{name}.build_s"] = med(r["build_s"] for r in mine)
        out[f"query.{name}.exec_s"] = med(r["exec_s"] for r in mine)
    for k in passes[0]["counts"]:
        out[k] = med(p["counts"][k] for p in passes)
    for layer, s in tracer.self_time_by_layer().items():
        out[f"self_s.{layer}"] = s / len(passes)
    out["tracing.overhead_s"] = tracer.overhead_s / len(passes)
    return out
