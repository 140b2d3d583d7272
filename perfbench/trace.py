"""In-memory span recorder around the program's public calls.

``Tracer.instrument()`` wraps module attributes from the outside (the
program's files are not touched) and returns an undo callable. Each
span records name, start, end, parent and a trace id shared by every
span of one request. A span opened on a thread with no open span joins
the request open at that time as its child (the program runs some
appends on a pool thread); with no request open it starts a new trace.
Spans are kept in memory and written once, at the end, as an OTLP/JSON
``ExportTraceServiceRequest`` — the system's own input format, so a
later change can ingest them.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        #: root spans still open, oldest first (one per request in flight)
        self._open_roots: list[dict] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            with self._lock:
                parent = self._open_roots[-1] if self._open_roots else None
        sp = {
            "name": name,
            "trace_id": parent["trace_id"] if parent else os.urandom(16).hex(),
            "span_id": os.urandom(8).hex(),
            "parent_span_id": parent["span_id"] if parent else None,
            "start": time.time(),
            "attrs": attrs,
        }
        root = parent is None
        if root:
            with self._lock:
                self._open_roots.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.time()
            with self._lock:
                if root:
                    self._open_roots.remove(sp)
                self.spans.append(sp)

    # ---- wrapping the program's public calls ----

    def wrap(self, owner, attr: str, name: str, attrs=None, on_result=None):
        """Replace ``owner.attr`` by a spanned call; returns the undo."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with tracer.span(name, **extra) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    sp["attrs"].update(on_result(out))
                return out

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)

    def instrument(self):
        """Wrap every public call of the serving path. Batch jobs
        (``bulk_agg``, ``dedup_corpus``) build lazy plans, so their
        layers come from the prefix ledger in ``host.py`` instead."""
        from otel_worker_spark import api, fixtures, pipeline, proto, queries, store, ws

        table = lambda self_, *a, **k: {"table": os.path.basename(self_.root)}  # noqa: E731
        undo = [
            self.wrap(api.TraceApi, "ingest", "api.ingest"),
            self.wrap(api.TraceApi, "traces_list", "api.traces_list"),
            self.wrap(api.TraceApi, "trace_get", "api.trace_get"),
            self.wrap(api.TraceApi, "span_get", "api.span_get"),
            self.wrap(api.TraceApi, "notify_span_added", "api.notify"),
            self.wrap(api, "token_df_from_payloads", "fixtures.token_df"),
            self.wrap(fixtures, "token_df_from_payloads", "fixtures.token_df"),
            self.wrap(api, "ingest_batch", "pipeline.ingest_batch"),
            self.wrap(pipeline, "ingest_batch", "pipeline.ingest_batch"),
            self.wrap(
                pipeline, "_append_receipts_and_manifest", "store.receipts_manifest"
            ),
            self.wrap(proto, "decode_export_request", "proto.decode"),
            self.wrap(queries, "traces_list", "queries.traces_list"),
            self.wrap(ws.WsHub, "broadcast", "ws.broadcast"),
            self.wrap(
                store.TableStore, "append", "store.append", table,
                lambda r: {} if r.get("skipped") else {
                    "rows": r.get("row_count", 0),
                    "files": len(r.get("added_files", [])),
                    "bytes": sum(os.path.getsize(f) for f in r.get("added_files", [])),
                },
            ),
            self.wrap(store.TableStore, "read", "store.read", table),
            self.wrap(store.TableStore, "read_batch", "store.read_batch", table),
            self.wrap(
                store.TableStore, "committed_batches", "store.committed_batches", table
            ),
            self.wrap(store.TableStore, "live_files", "store.live_files", table,
                      lambda r: {"n": len(r)}),
            self.wrap(
                store.TableStore, "_entries", "store.log_replay", table,
                lambda r: {"records": len(r)},
            ),
        ]
        return lambda: [u() for u in reversed(undo)]

    # ---- queries over the recorded spans ----

    def durations_ms(self, name: str, where=None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and (where is None or where(s))
        ]

    def roots(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # ---- OTLP/JSON export ----

    def to_otlp(self, service: str) -> dict:
        def attr(k, v):
            if isinstance(v, bool):
                return {"key": k, "value": {"boolValue": v}}
            if isinstance(v, int):
                return {"key": k, "value": {"intValue": str(v)}}
            if isinstance(v, float):
                return {"key": k, "value": {"doubleValue": v}}
            return {"key": k, "value": {"stringValue": str(v)}}

        spans = [
            {
                "traceId": s["trace_id"],
                "spanId": s["span_id"],
                "parentSpanId": s["parent_span_id"] or "",
                "name": s["name"],
                "kind": 1,
                "startTimeUnixNano": str(int(s["start"] * 1e9)),
                "endTimeUnixNano": str(int(s["end"] * 1e9)),
                "attributes": [attr(k, v) for k, v in sorted(s["attrs"].items())],
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        return {
            "resourceSpans": [
                {
                    "resource": {"attributes": [attr("service.name", service)]},
                    "scopeSpans": [
                        {"scope": {"name": "perfbench", "version": "1"}, "spans": spans}
                    ],
                }
            ]
        }

    def write_otlp(self, path: str, service: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_otlp(service), f, separators=(",", ":"))
