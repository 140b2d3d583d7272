"""Seeded input generators. Pure numpy/Python: no Spark, no repo imports.

Every generator is a function of ``seed`` alone, so the same seed gives
byte-identical inputs and the program only ever sees the generated data.

- ``events_table``: the ``events.parquet`` schema (event_id, ts, user_id,
  event_type, value, props). The program's own fixture recipe
  (``token_sequences_from_events``) renders it into OTLP/JSON envelopes:
  one span per envelope, ~1% poison rows (``event_id % 97 == 0``) and the
  hot ``checkout`` service on ~1/3 of rows (``user_id % 3 == 0``).
- ``documents_table``: the ``documents.parquet`` schema with its 30-word
  vocabulary and 44-577 character lengths, plus injected exact-duplicate
  clusters, near-duplicate clusters and one hot near-duplicate cluster of
  ~2% of the corpus.
- ``exports``: OTLP ``ExportTraceServiceRequest`` bodies of 10-200 spans
  (small, medium and large in turn) in multi-span traces, 2-10 attributes per span, ~1% poison spans in
  the JSON ones; every second export of a stream is protobuf.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: the documents.parquet vocabulary (30 words)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SERVICES = ["checkout"] * 5 + [f"svc-{i}" for i in range(10)]
SPAN_NAMES = [
    "GET /api/users", "POST /api/cart", "db.query", "cache.get", "rpc/charge",
    "metric.latency", "metric.requests", "order/purchase", "queue.publish",
]
SEVERITIES = ["DEBUG", "INFO", "INFO", "WARN", "ERROR"]
#: routing rule of route.signal_expr, restated from its documentation
LOG_SEVERITIES = ("ERROR", "FATAL", "WARN")
#: share of poison spans (invalid trace id) in a JSON export; protobuf
#: cannot carry a non-hex id
POISON_RATE = 0.01
#: export i of a stream is sent as application/x-protobuf when
#: i % PROTOBUF_EVERY == 1. The OTLP exporter specification makes
#: http/protobuf the default OTLP/HTTP protocol, while browser and
#: JavaScript exporters send JSON; the even mix is an assumption, not a
#: measured share. Alternating, not drawn, so any two consecutive
#: exports decode both encodings.
PROTOBUF_EVERY = 2
#: slices of the span-count range that consecutive exports cycle through
SIZE_STRATA = 3


def _rng(seed: int, stream: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def table_digest(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: equal digests ⇔ equal inputs."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


# ---- events (bulk_agg) ------------------------------------------------------


def events_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "events")
    base = int(rng.integers(0, 10_000_000))
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n)) + start_us
    return pa.table(
        {
            "event_id": pa.array(base + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def poison_count(events: pa.Table) -> int:
    ids = events.column("event_id").to_numpy()
    return int((ids % 97 == 0).sum())


# ---- documents (dedup_corpus) -----------------------------------------------


@dataclass
class Corpus:
    table: pa.Table
    #: clusters of doc_ids with byte-identical text
    exact_clusters: list[list[int]] = field(default_factory=list)
    hot_cluster: list[int] = field(default_factory=list)


def _text(rng: np.random.Generator) -> str:
    target = int(rng.integers(44, 578))
    words: list[str] = []
    length = -1
    while length < target:
        w = VOCAB[int(rng.integers(0, len(VOCAB)))]
        words.append(w)
        length += len(w) + 1
    return " ".join(words)


def _near_copy(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    i = int(rng.integers(0, len(words)))
    words[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def documents_table(seed: int, n: int = 5000) -> Corpus:
    rng = _rng(seed, "documents")
    texts: list[str] = []
    exact: list[list[int]] = []
    hot: list[int] = []
    hot_size = n // 50  # ~2% of the corpus
    hot_base = _text(rng)
    for _ in range(hot_size):
        hot.append(len(texts))
        texts.append(_near_copy(rng, hot_base))
    while len(texts) < n:
        kind = rng.random()
        base = _text(rng)
        if kind < 0.06:  # exact-duplicate cluster of 2-5
            k = min(int(rng.integers(2, 6)), n - len(texts))
            exact.append(list(range(len(texts), len(texts) + k)))
            texts.extend([base] * k)
        elif kind < 0.12:  # near-duplicate cluster of 2-4
            k = min(int(rng.integers(2, 5)), n - len(texts))
            texts.append(base)
            texts.extend(_near_copy(rng, base) for _ in range(k - 1))
        else:
            texts.append(base)
    # shuffle placement so clusters are not contiguous doc_id ranges
    perm = rng.permutation(n)
    ids = np.empty(n, dtype=np.int64)
    ids[perm] = np.arange(n)
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 6, n)]
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    remap = lambda c: sorted(int(ids[i]) for i in c)  # noqa: E731
    return Corpus(table, [remap(c) for c in exact], remap(hot))


# ---- OTLP exports (otlp_export, trace_reads) ----------------------------------


@dataclass
class Export:
    body: bytes
    content_type: str
    #: (trace_id, span_id) of every valid span
    valid: list[tuple[str, str]]
    #: per-sink row counts of the valid spans (the committed receipt)
    sinks: dict[str, int]
    #: valid span dicts by (trace_id, span_id): name, start/end ns, parent
    spans: dict[tuple[str, str], dict]
    n_spans: int


def signal_of(severity: str | None, name: str) -> str:
    if severity in LOG_SEVERITIES:
        return "logs"
    if name.startswith("metric") or name.endswith("/purchase"):
        return "metrics"
    return "traces"


def _attr(key: str, value) -> dict:
    if isinstance(value, bool):
        return {"key": key, "value": {"boolValue": value}}
    if isinstance(value, int):
        return {"key": key, "value": {"intValue": str(value)}}
    if isinstance(value, float):
        return {"key": key, "value": {"doubleValue": value}}
    return {"key": key, "value": {"stringValue": value}}


def _hex(rng: np.random.Generator, nbytes: int) -> str:
    return rng.bytes(nbytes).hex()


def make_export(
    rng: np.random.Generator,
    n_spans: int,
    protobuf: bool,
    t0_ns: int,
) -> Export:
    service = SERVICES[int(rng.integers(0, len(SERVICES)))]
    spans: list[dict] = []
    valid: list[tuple[str, str]] = []
    sinks = {"traces": 0, "logs": 0, "metrics": 0}
    meta: dict[tuple[str, str], dict] = {}
    while len(spans) < n_spans:
        trace_id = _hex(rng, 16)
        root_id = _hex(rng, 8)
        size = min(int(rng.integers(2, 11)), n_spans - len(spans))
        start = t0_ns + int(rng.integers(0, 10**12))
        for j in range(size):
            span_id = root_id if j == 0 else _hex(rng, 8)
            name = SPAN_NAMES[int(rng.integers(0, len(SPAN_NAMES)))]
            severity = SEVERITIES[int(rng.integers(0, len(SEVERITIES)))]
            s = start + j * 1000 + int(rng.integers(0, 10**6))
            e = s + int(rng.integers(1000, 10**9))
            attrs = [_attr("severity", severity)]
            for k in range(int(rng.integers(1, 10))):
                v = [f"v{int(rng.integers(0, 1000))}", int(rng.integers(0, 10**6)),
                     float(np.round(rng.random() * 100, 3)), bool(rng.random() < 0.5)][k % 4]
                attrs.append(_attr(f"attr.{k}", v))
            poison = (not protobuf) and rng.random() < POISON_RATE
            tid = ("zz" + trace_id[2:]) if poison else trace_id
            spans.append(
                {
                    "traceId": tid,
                    "spanId": span_id,
                    "parentSpanId": "" if j == 0 else root_id,
                    "name": name,
                    "kind": int(rng.integers(1, 6)),
                    "startTimeUnixNano": str(s),
                    "endTimeUnixNano": str(e),
                    "attributes": attrs,
                    "status": {"code": 2 if severity == "ERROR" else 1},
                }
            )
            if not poison:
                valid.append((trace_id, span_id))
                sinks[signal_of(severity, name)] += 1
                meta[(trace_id, span_id)] = {
                    "name": name, "start": s, "end": e,
                    "parent": None if j == 0 else root_id,
                }
    env = {
        "resourceSpans": [
            {
                "resource": {"attributes": [_attr("service.name", service)]},
                "scopeSpans": [
                    {"scope": {"name": "perfbench", "version": "1.0.0"}, "spans": spans}
                ],
            }
        ]
    }
    if protobuf:
        from otel_worker_spark.proto import encode_export_request

        body, ctype = encode_export_request(env), "application/x-protobuf"
    else:
        body = json.dumps(env, separators=(",", ":")).encode()
        ctype = "application/json"
    return Export(body, ctype, valid, sinks, meta, len(spans))


def exports(
    seed: int, count: int, stream: str = "exports", lo: int = 10, hi: int = 200,
) -> list[Export]:
    """``count`` exports of ``lo``-``hi`` spans. Export i draws its size
    from the (i mod SIZE_STRATA)-th slice of that range, so any run of
    SIZE_STRATA consecutive exports spans the range and two seeds' runs
    carry about the same load."""
    rng = _rng(seed, stream)
    t0 = 1_704_067_200_000_000_000
    width = hi - lo + 1
    out = []
    for i in range(count):
        k = i % SIZE_STRATA
        n = int(rng.integers(lo + width * k // SIZE_STRATA, lo + width * (k + 1) // SIZE_STRATA))
        out.append(make_export(rng, n, i % PROTOBUF_EVERY == 1, t0 + i * 10**12))
    return out


def exports_digest(items: list[Export]) -> str:
    h = hashlib.sha256()
    for e in items:
        h.update(e.content_type.encode())
        h.update(e.body)
    return h.hexdigest()
