"""In-memory spans around the benchmark's calls into the engine.

A span is ``(name, start, end, parent)``; spans are kept in a list and written
once at the end of a run. The untraced run uses the same calls with tracing
off, so its timings carry no span bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # the sink's spans come from Spark's callback thread

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name minus the time its direct children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), "summary": summary}, f,
                      default=str)


class TimedSink:
    """The ``foreachBatch`` callable handed to ``run_to_sink``: it calls the
    engine's sink and records when each batch's call started and returned.

    With ``count_rows`` it also counts the sink table after every call (an
    extra DuckDB read, so only in the traced run) to get rows per batch.
    """

    def __init__(self, sink, tracer: Tracer, count_rows: bool = False):
        self.sink = sink
        self.tracer = tracer
        self.count_rows = count_rows
        self.calls: list[dict] = []
        self._rows = 0

    def _table_rows(self) -> int:
        import duckdb

        con = duckdb.connect(self.sink.db_path)
        try:
            return con.execute(f"SELECT count(*) FROM {self.sink.table}").fetchone()[0]
        finally:
            con.close()

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        with self.tracer.span("streaming.upsert.DuckDBUpsertSink.__call__", batch_id=batch_id):
            self.sink(batch_df, batch_id)
        t1 = time.time()
        rec = {"batch_id": batch_id, "start": t0, "end": t1}
        if self.count_rows:
            n = self._table_rows()
            rec["rows"] = n - self._rows
            self._rows = n
        self.calls.append(rec)
