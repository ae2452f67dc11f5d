"""In-memory span recorder used by the traced run (``--trace 1``).

Spans are recorded around calls into logflow's layers from the benchmark's
own files: the workloads open spans around the calls they make, and
``wrap`` swaps a module attribute for a timed wrapper so calls that a query
makes internally (``load_table``, ``enrich_trace`` ...) are timed too. With
tracing off ``span`` yields at once and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        #: seconds spent in the tracer's own bookkeeping (counter reads):
        #: the wall time tracing adds to a run, kept out of the timings
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, counters=None):
        """Record ``name`` around the block; with ``counters`` (a
        ``SparkCounters``) also record the Spark work done inside it."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        before = self.snapshot(counters)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if counters is not None:
                after = self.snapshot(counters)
                rec["counts"] = counters.delta(before, after)

    def snapshot(self, counters):
        """``counters.snapshot()``, its time added to ``overhead_s``."""
        if counters is None:
            return None
        t0 = time.perf_counter()
        snap = counters.snapshot()
        self.overhead_s += time.perf_counter() - t0
        return snap

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call to ``module.attr`` as span ``name``."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, timed)
        self._wrapped.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._wrapped):
            setattr(module, attr, original)
        self._wrapped.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed per
        layer (the span name up to its first dot)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child_s[s["id"]]
        return out

    def write(self, path: str) -> None:
        """Write the spans in the column layout of ``logflow.model.SPAN_SCHEMA``:
        trace_id = run id, service = layer, ts = start, duration in µs."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        done = [s for s in self.spans if "end" in s]
        table = pa.table(
            {
                "trace_id": pa.array([self.run_id] * len(done), pa.string()),
                "span_id": pa.array([f"{s['id']:016x}" for s in done], pa.string()),
                "parent_id": pa.array(
                    [None if s["parent"] is None else f"{s['parent']:016x}" for s in done],
                    pa.string(),
                ),
                "name": pa.array([s["name"] for s in done], pa.string()),
                "service": pa.array([s["name"].split(".", 1)[0] for s in done], pa.string()),
                "remote_service": pa.array([None] * len(done), pa.string()),
                "ts": pa.array(
                    [int(s["start"] * 1e6) for s in done], pa.timestamp("us", tz="UTC")
                ),
                "duration_us": pa.array(
                    [int((s["end"] - s["start"]) * 1e6) for s in done], pa.int64()
                ),
                "kafka_topic": pa.array([None] * len(done), pa.string()),
            }
        )
        pq.write_table(table, path)
