"""Benchmark of the OTLP pipeline. Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 16 --trace 0

This process generates the seeded inputs, starts the program's process
(``host.py``: one SparkSession at ``local[nproc]`` with the program's
defaults), drives it — in-process closed loops for ``batch``, HTTP and
websocket load for ``serve`` — checks every output and
prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ledger. The line
before it holds the workload's own figures, the run settings and the
host calibration. The exit code is 0 only when every check passed.

Workloads (see README.md for what each loads and why):
``batch`` (bulk_agg jobs, then dedup_corpus pair counts) and ``serve``
(otlp_export open loop, then trace_reads closed loop).
"""

from __future__ import annotations

import argparse
import asyncio
import ctypes
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("batch", "serve")

#: the end-to-end metrics every workload computes; BENCHMARK.json lists
#: them, and the per-layer metrics, with their units
END_TO_END = ("setup_s", "primary_p50_ms", "secondary_p50_ms")

#: open-loop export rate (exports/s), below the capacity measured at the
#: parent commit on 4 cores (~0.55/s with concurrent requests). A ~2.5 s
#: ack fits its 4 s slot; at 0.3/s slow acks overlapped, slowed each
#: other, and the ack median's run-to-run spread grew from 12% to 32%
EXPORT_RATE = 0.25
#: rows of the bulk_agg events table
EVENT_ROWS = 100_000
#: documents in the dedup corpus: a round's wall is mostly per-job
#: fixed cost (~8 s at 1000 documents, ~10 s at 2500 on 4 cores)
DEDUP_DOCS = 1000
#: trace_reads op cycle: 90% reads, 10% small exports
READ_CYCLE = ("list", "get", "span", "get", "write", "span", "list", "get", "span", "list")
#: HTTP connections of the generator besides the websocket: with its one
#: thread and one websocket it stays within nproc (4)
MAX_CONNS = 2
#: a run must end within 180 s; this leaves room for input generation,
#: the calibration probes and stopping the program's process
HOST_TIMEOUT_S = 165.0


class HostError(RuntimeError):
    pass


# ---- the program's process ---------------------------------------------------------


class Host:
    def __init__(self, work: str, cfg: dict, env: dict):
        path = os.path.join(work, "config.json")
        with open(path, "w") as f:
            json.dump(cfg, f)
        self.log_path = os.path.join(work, "host.log")
        self._log = open(self.log_path, "wb")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=work, env=env, start_new_session=True,
        )
        self.reader: asyncio.StreamReader | None = None
        self.peak_rss = 0
        self.messages: dict[str, dict] = {}

    async def attach(self) -> None:
        loop = asyncio.get_running_loop()
        self.reader = asyncio.StreamReader(limit=1 << 26)
        await loop.connect_read_pipe(
            lambda: asyncio.StreamReaderProtocol(self.reader), self.proc.stdout
        )

    async def expect(self, kind: str) -> dict:
        while True:
            line = await self.reader.readline()
            if not line:
                raise HostError(f"program process exited before '{kind}'")
            if line.startswith(b"PERFBENCH "):
                msg = json.loads(line[len(b"PERFBENCH "):])
                self.messages[msg["kind"]] = msg
                if msg["kind"] == kind:
                    return msg

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd.encode() + b"\n")
        self.proc.stdin.flush()

    async def sample_rss(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while True:
            self.peak_rss = max(self.peak_rss, tree_rss(self.proc.pid, page))
            await asyncio.sleep(0.2)

    def stop(self) -> None:
        """Kill the program's process tree (driver, JVM, and the PySpark
        daemon and workers, which sit in a process group of their own)
        and wait until none of them is left. Every result has arrived by
        then, so nothing is lost."""
        children: dict[int, list[int]] = {}
        for pid, ppid in _proc_table():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, []))
        for pid in tree:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        while any(running(pid) for pid in tree):
            time.sleep(0.05)
        # every parent in the tree has died, so the orphans are this
        # process's children (a child subreaper, see main): reap them
        deadline = time.time() + 30
        while time.time() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                time.sleep(0.05)
        self._log.close()


def _proc_table() -> list[tuple[int, int]]:
    """(pid, ppid) of every process."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out.append((int(name), int(fields[1])))
    return out


def tree_rss(root: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    for pid, ppid in _proc_table():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---- inputs ----------------------------------------------------------------------------


def write_tokens(events, out_dir: str, files: int = 64) -> None:
    """Render the program's fixture payload recipe over ``events`` (its
    DuckDB dialect, byte-identical to the Spark rendering by the
    recipe's contract) and tokenize with the identity byte vocab into
    the graft token table ``(doc_id, tokens, n_tok, source)``."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otel_worker_spark.fixtures import DOC_ID, SERVICE, payload_sql, render

    con = duckdb.connect()
    try:
        con.register("events", events)
        t = con.sql(
            f"SELECT {render(DOC_ID, 'duckdb')} AS doc_id, {payload_sql('duckdb')} AS payload,"
            f" {render(SERVICE, 'duckdb')} AS source FROM events ORDER BY event_id"
        ).arrow()
    finally:
        con.close()
    # the payloads' UTF-8 bytes, straight from the Arrow string buffers
    payload = t.column("payload").combine_chunks().cast(pa.large_string())
    ends = np.frombuffer(payload.buffers()[1], np.int64)[payload.offset:payload.offset + len(payload) + 1]
    data = np.frombuffer(payload.buffers()[2], np.uint8)[ends[0]:ends[-1]]
    offsets = (ends - ends[0]).astype(np.int32)
    lengths = np.diff(offsets)
    values = data.astype(np.int32)
    table = pa.table({
        "doc_id": t.column("doc_id"),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        "n_tok": pa.array(lengths),
        "source": t.column("source"),
    })
    os.makedirs(out_dir)
    step = -(-table.num_rows // files)

    def write(i: int) -> None:
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))

    # the parquet encoder releases the GIL: one thread per core
    with ThreadPoolExecutor(os.cpu_count()) as pool:
        for f in [pool.submit(write, i) for i in range(files)]:
            f.result()


def bulk_agg_oracle(events) -> dict[str, int]:
    """Per-sink row counts from the registry's DuckDB oracle, plus the
    quarantine count the generator planted."""
    import duckdb

    from otel_worker_spark.registry import pipeline_route_receipts_sql

    con = duckdb.connect()
    try:
        con.register("events", events)
        rows = con.sql(pipeline_route_receipts_sql()).fetchall()
    finally:
        con.close()
    out = {sink: (int(n), int(s)) for sink, n, s in rows}
    out["quarantine"] = (gen.poison_count(events), None)
    return out


def committed_receipts(store_root: str) -> dict[str, dict[str, int]]:
    """batch_id → sink → row_count, read from the receipts store's
    commit log and files (after the program has stopped)."""
    import pyarrow.parquet as pq

    log = os.path.join(store_root, "sink_receipts", "_log")
    out: dict[str, dict[str, int]] = {}
    if not os.path.isdir(log):
        return out
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name)) as f:
            entry = json.load(f)
        for path in entry.get("added_files", []):
            for r in pq.read_table(path).to_pylist():
                out.setdefault(r["batch_id"], {})[r["sink"]] = r["row_count"]
    return out


def batch_id(body: bytes) -> str:
    return "http-" + hashlib.sha256(body).hexdigest()[:16]


# ---- workloads ----------------------------------------------------------------------


class Run:
    """Checks and figures of one run."""

    def __init__(self):
        self.setup_s = 0.0
        #: latencies (ms) of the workload's two operations, untraced
        self.primary_ms: list[float] = []
        self.secondary_ms: list[float] = []
        #: the same, traced (traced runs only)
        self.traced_ms: tuple[list[float], list[float]] = ([], [])
        self.attempted = 0
        self.failures: list[str] = []
        self.figures: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def walls_ms(samples) -> list[float]:
    return [(b - a) * 1000.0 for a, b in samples]


async def drive_batch(host: Host, run: Run, inp: dict, prior_pairs: int | None) -> None:
    sess = await host.expect("session")
    ready = await host.expect("ready")
    warm = await host.expect("warm")
    msg = await host.expect("result")
    res, run.layers = msg["result"], msg["layers"]
    bulk, dedup = res["bulk_agg"], res["dedup"]
    run.setup_s = (sess["t"] - host.t_spawn) + ready["cold_s"]
    run.figures["session.start_s"] = sess["t"] - host.t_spawn
    run.figures["session.warmup_s"] = (
        warm["pairs_cold_s"] + warm["warm_job_s"] + warm["warm_pairs_s"])

    oracle = bulk_agg_oracle(inp["events"])
    for i, out in enumerate(bulk["outputs"]):
        got = {s: (n, tot) for s, n, tot in out}
        ok = set(got) == set(oracle) and all(
            got[s][0] == oracle[s][0] and (oracle[s][1] is None or got[s][1] == oracle[s][1])
            for s in oracle
        )
        run.check(ok, f"bulk_agg job {i}: sinks {got} != oracle {oracle}")
    # the pair count repeats within the run and from run to run
    pairs = dedup["pairs"][0]
    for i, n in enumerate(dedup["pairs"]):
        run.check(n == pairs, f"dedup pair count {i}: {n} != {pairs}")
    if prior_pairs is not None:
        run.check(pairs == prior_pairs, f"dedup pair count {pairs} != earlier run's {prior_pairs}")
    corpus = inp["corpus"]
    n_docs = corpus.table.num_rows
    if "groups" in dedup:
        survivor = dict(dedup["groups"])
        all_ids = sorted(corpus.table.column("doc_id").to_pylist())
        run.check(sorted(d for d, _ in dedup["groups"]) == all_ids,
                  "dedup_groups: doc_ids not each present once")
        bad = [c for c in corpus.exact_clusters if len({survivor.get(d) for d in c}) != 1]
        run.check(not bad, f"dedup_groups: {len(bad)} exact-duplicate clusters split")
        run.figures["dedup_groups_docs_per_s"] = n_docs / dedup["prefix_walls"]["dedup.groups"]

    run.primary_ms = walls_ms(bulk["samples"])
    run.secondary_ms = walls_ms(dedup["samples"])
    run.traced_ms = (walls_ms(bulk.get("traced_samples", [])),
                     walls_ms(dedup.get("traced_samples", [])))
    run.figures["batch_seq_per_s"] = inp["rows"] / (stats.p50(run.primary_ms) / 1000.0)
    run.figures["dedup_pairs_docs_per_s"] = n_docs / (stats.p50(run.secondary_ms) / 1000.0)
    # warm medians, which a traced run of this seed is held against
    run.info["warm_p50_ms"] = [stats.p50(run.primary_ms), stats.p50(run.secondary_ms)]
    run.info.update(job_ms=[round(x) for x in run.primary_ms],
                    pairs_ms=[round(x) for x in run.secondary_ms], pairs=pairs,
                    pairs_cold_s=warm["pairs_cold_s"], warm_job_s=warm["warm_job_s"])
    if "prefix_walls" in bulk:
        # the bulk_agg ledger's last prefix is the whole job to the noop sink
        run.info["ledger_total_ms"] = bulk["prefix_walls"]["route.aggregate"] * 1000.0
        local1 = run.layers["bulk_agg.local1_seq_per_s"]
        run.layers["bulk_agg.speedup_vs_local1"] = bulk["quarter_seq_per_s"] / local1
        run.info["quarter_seq_per_s"] = bulk["quarter_seq_per_s"]


async def post(port: int, ex: gen.Export):
    from loadgen import http

    return await http("127.0.0.1", port, "POST", "/v1/traces", ex.body, ex.content_type)


def replied(r, same) -> bool:
    """A 200 whose JSON body passes ``same``; any other reply fails."""
    if r.status != 200:
        return False
    try:
        return bool(same(json.loads(r.body)))
    except (ValueError, KeyError, TypeError):
        return False


class TraceModel:
    """What the generator knows it wrote: valid spans by trace."""

    def __init__(self):
        self.traces: dict[str, dict[str, dict]] = {}

    def add(self, ex: gen.Export) -> None:
        for (tid, sid), meta in ex.spans.items():
            self.traces.setdefault(tid, {})[sid] = meta

    def top(self, k: int = 20) -> list[str]:
        ends = {t: max(m["end"] // 1000 for m in s.values()) for t, s in self.traces.items()}
        return sorted(ends, key=lambda t: (ends[t], t), reverse=True)[:k]


class Toggle:
    """Switches the program's tracer on for the second half of a phase
    (traced runs only)."""

    def __init__(self, host: Host, on: bool):
        self.host, self.on = host, on

    async def __call__(self, cmd: str) -> None:
        if self.on:
            self.host.send(cmd)
            await self.host.expect("tracing" if cmd == "trace" else "untraced")


async def drive_serve(host: Host, run: Run, inp: dict, seconds: float, trace: bool):
    """otlp_export (open loop), then trace_reads (closed loop) over the
    store those exports built; one websocket subscriber throughout."""
    import numpy as np

    from loadgen import WsSubscriber, http, open_loop

    toggle = Toggle(host, trace)
    sess = await host.expect("session")
    port = (await host.expect("ready"))["port"]
    run.figures["session.start_s"] = sess["t"] - host.t_spawn
    ws = WsSubscriber()
    await ws.connect("127.0.0.1", port)
    model = TraceModel()
    sent: list[tuple[gen.Export, object]] = []  # every export and its reply
    warm = inp["warm"]
    first = await post(port, warm[0])
    run.setup_s = first.done - host.t_spawn
    sent.append((warm[0], first))
    t = time.time()
    # the first warm export still runs ~15-30% slow, so it goes untimed
    sent.append((warm[1], await post(port, warm[1])))
    warm_s = time.time() - t

    # ---- otlp_export: open loop at EXPORT_RATE
    measured = inp["exports"]
    n = len(measured)
    halves = [(0, n // 2), (n // 2, n)] if trace else [(0, n)]
    acks: list = []
    late, peak = 0.0, 0
    for k, (lo, hi) in enumerate(halves):
        if k == 1:
            await toggle("trace")
        got, lt, pk = await open_loop(
            lambda i: post(port, measured[lo + i]), hi - lo, EXPORT_RATE,
            time.time() + 0.05, MAX_CONNS,
        )
        for s in got:
            s.index += lo
        acks += got
        late, peak = max(late, lt), max(peak, pk)
    await toggle("untrace")
    sent += [(measured[s.index], s) for s in acks]
    for ex, r in sent:
        if r.status == 200:
            model.add(ex)

    # ---- trace_reads: one user, READ_CYCLE of reads and small exports
    rng = np.random.default_rng(inp["read_seed"])
    writes = iter(inp["writes"])

    def pick() -> tuple[str, str]:
        tids = sorted(model.traces)
        tid = tids[int(rng.integers(0, len(tids)))]
        sids = sorted(model.traces[tid])
        return tid, sids[int(rng.integers(0, len(sids)))]

    async def op(kind: str):
        if kind == "write":
            ex = next(writes)
            r = await post(port, ex)
            sent.append((ex, r))
            if r.status == 200:
                model.add(ex)
            return r, r.status == 200, f"write ack {r.status}"
        if kind == "list":
            want = model.top()

            def same(body) -> bool:
                return [b["traceId"] for b in body] == want and all(
                    {s["spanId"] for s in b["spans"]} == set(model.traces[b["traceId"]])
                    for b in body
                )

            r = await http("127.0.0.1", port, "GET", "/v1/traces")
            return r, replied(r, same), "traces_list reply differs"
        tid, sid = pick()
        if kind == "get":
            r = await http("127.0.0.1", port, "GET", f"/v1/traces/{tid}")
            ok = replied(r, lambda b: {s["spanId"] for s in b["spans"]} == set(model.traces[tid]))
            return r, ok, f"trace_get {tid} differs"
        meta = model.traces[tid][sid]
        want_span = (tid, sid, meta["name"], meta["parent"])
        r = await http("127.0.0.1", port, "GET", f"/v1/traces/{tid}/spans/{sid}")
        ok = replied(r, lambda b: (
            b.get("traceId"), b.get("spanId"), b.get("name"), b.get("parentSpanId")) == want_span)
        return r, ok, f"span_get {tid}/{sid} differs"

    t = time.time()
    for kind in ("list", "get", "span"):  # the first read of each kind is cold
        _, ok, what = await op(kind)
        run.check(ok, what)
    run.figures["session.warmup_s"] = warm_s + time.time() - t

    lat: dict[str, list[float]] = {k: [] for k in ("list", "get", "span", "write")}
    reads: tuple[list, list] = ([], [])  # replies of the untraced / traced half
    window = seconds / 2
    i = 0
    for k, span in enumerate([window / 2, window / 2] if trace else [window]):
        if k == 1:
            await toggle("trace")
        deadline = time.time() + span
        # whole cycles only, so every half holds the same mix of reads
        start = i
        while time.time() < deadline or i == start or i % len(READ_CYCLE):
            kind = READ_CYCLE[i % len(READ_CYCLE)]
            i += 1
            r, ok, what = await op(kind)
            run.check(ok, what)
            lat[kind].append((r.done - r.sent) * 1000.0)
            if kind != "write":
                reads[k].append(r)
    await asyncio.sleep(0.5)  # frames are sent before the ack; allow stragglers
    await ws.close()
    host.send("finish")
    msg = await host.expect("result")
    run.layers = msg["layers"]

    # checks: acks, SpanAdded frames, committed receipts
    for ex, r in sent:
        run.check(r.status == 200, f"export ack {r.status}")
    seen: dict[tuple[str, str], int] = {}
    frame_time = [ts for ts, _ in ws.frames]
    for fi, (_, frame) in enumerate(ws.frames):
        for tid, sid in frame.get("details", {}).get("newSpans", []):
            seen[(tid, sid)] = -1 if (tid, sid) in seen else fi  # -1: delivered twice
    notify_ms = []
    due = {id(s): s.due for s in acks}
    for i, (ex, r) in enumerate(sent):
        frames = {seen.get(p) for p in ex.valid}
        ok = len(frames) == 1 and None not in frames and -1 not in frames
        run.check(ok, f"export {i}: SpanAdded frames {sorted(map(str, frames))}")
        if ok and id(r) in due:
            notify_ms.append((frame_time[frames.pop()] - due[id(r)]) * 1000.0)
    expected_pairs = {p for ex, _ in sent for p in ex.valid}
    run.check(set(seen) <= expected_pairs, "SpanAdded carried pairs never sent")
    receipts = committed_receipts(inp["store"])
    for ex, _ in sent:
        want = {k: v for k, v in ex.sinks.items() if v}
        run.check(receipts.get(batch_id(ex.body)) == want,
                  f"receipt {receipts.get(batch_id(ex.body))} != sent {want}")

    # open-loop acks are timed from their due time; reads from their send
    traced_from = halves[-1][0] if trace else n
    run.primary_ms = [(s.done - s.due) * 1000.0 for s in acks if s.index < traced_from]
    run.secondary_ms = [(r.done - r.sent) * 1000.0 for r in reads[0]]
    run.traced_ms = ([(s.done - s.due) * 1000.0 for s in acks if s.index >= traced_from],
                     [(r.done - r.sent) * 1000.0 for r in reads[1]])
    run.figures["export_ack_p50_ms"] = stats.p50(run.primary_ms)
    run.figures["notify_p50_ms"] = stats.p50(notify_ms)
    run.figures["traces_list_p50_ms"] = stats.p50(lat["list"])
    run.figures["trace_get_p50_ms"] = stats.p50(lat["get"])
    run.figures["span_get_p50_ms"] = stats.p50(lat["span"])
    run.figures["generator.late_ms_max"] = late * 1000.0
    run.figures["export.inflight_max"] = peak
    for name, values in (("export_ack_tail_ms", run.primary_ms),
                         ("read_tail_ms", run.secondary_ms)):
        value, pct, count = stats.tail(values)
        run.info[name] = {"value": value, "percentile": pct, "samples": count}
    run.info["warm_p50_ms"] = [stats.p50(run.primary_ms), stats.p50(run.secondary_ms)]
    run.info.update(ack_ms=[round(x) for x in run.primary_ms],
                    write_ack_p50_ms=stats.p50(lat["write"]),
                    ops={k: len(v) for k, v in lat.items()},
                    commits=len(sent))
    if trace:
        # HTTP time minus the one TraceApi call inside each traced request
        api = msg["result"]["api_spans"]
        overhead = []
        for r in [s for s in acks if s.index >= traced_from] + reads[1]:
            inner = [(b - a) * 1000.0 for a, b in api if r.sent <= a and b <= r.done]
            if len(inner) == 1:
                overhead.append((r.done - r.sent) * 1000.0 - inner[0])
        run.figures["api.http_overhead_ms"] = stats.p50(overhead)


# ---- main -----------------------------------------------------------------------------


def source_sha256(root: str) -> str:
    """Digest of the program's sources (the checkout need not be a git
    repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "otel_worker_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()


def settings(root: str, sess: dict, source: str) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "master": sess.get("master"),
        "driver_memory": sess.get("driver_memory"),
        "git_commit": commit,
        "source_sha256": source,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "jdk": sess.get("jdk"),
        "spark": sess.get("spark_version"),
        "python": sys.version.split()[0],
    }


def make_inputs(workload: str, seed: int, seconds: float, work: str) -> dict:
    if workload == "batch":
        import pyarrow.parquet as pq

        events = gen.events_table(seed, n=EVENT_ROWS)
        tokens = os.path.join(work, "tokens")
        write_tokens(events, tokens)
        corpus = gen.documents_table(seed, n=DEDUP_DOCS)
        documents = os.path.join(work, "documents.parquet")
        pq.write_table(corpus.table, documents)
        return {"events": events, "rows": events.num_rows, "tokens": tokens,
                "corpus": corpus, "documents": documents,
                "digest": gen.table_digest(events) + gen.table_digest(corpus.table)}
    # at least four open-loop exports: a median of four, and two halves
    # in a traced run
    n = max(4, math.ceil(seconds / 2 * EXPORT_RATE))
    warm = gen.exports(seed, 2, stream="warm")  # the cold one and the untimed warm one
    ex = gen.exports(seed, n)
    writes = gen.exports(seed, 20, stream="writes", lo=10, hi=40)
    return {"warm": warm, "exports": ex, "writes": writes, "read_seed": seed,
            "store": os.path.join(work, "store"),
            "digest": gen.exports_digest(warm + ex + writes)}


async def drive(workload: str, host: Host, run: Run, inp: dict, seconds: float, trace: bool):
    await host.attach()
    sampler = asyncio.create_task(host.sample_rss())
    try:
        if workload == "batch":
            await drive_batch(host, run, inp, inp.get("prior_pairs"))
        else:
            await drive_serve(host, run, inp, seconds, trace)
    finally:
        sampler.cancel()
        await asyncio.gather(sampler, return_exceptions=True)


def earlier_run(out_dir: str, workload: str, seed: int, trace: int, source: str) -> dict | None:
    """The detail of this checkout's last run of the same workload, seed,
    trace mode and program sources, if there is one."""
    try:
        with open(os.path.join(out_dir, f"{workload}-{seed}-trace{trace}.json")) as f:
            d = json.load(f)
        return d if d["settings"]["source_sha256"] == source else None
    except (OSError, ValueError, KeyError):
        return None


def untraced_base(untraced: dict | None, run: Run) -> tuple[list[float], str]:
    """Warm untraced medians (ms) of the two operations that a traced
    run is held against: those of the same seed's --trace 0 run (event
    log off, so its cost shows), else this run's untraced halves (event
    log on in both halves)."""
    warm = (untraced or {}).get("info", {}).get("warm_p50_ms")
    if warm:
        return warm, "trace0_run"
    return run.info["warm_p50_ms"], "untraced_halves"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the program's process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "otel_worker_spark", "__init__.py")):
        print("perfbench: otel_worker_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    import bench  # the repository's host calibration probes, read-only

    nproc = os.cpu_count() or 1
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"])),
    })
    source = source_sha256(root)
    earlier = {t: earlier_run(out_dir, args.workload, args.seed, t, source) for t in (0, 1)}
    calib = {"sha256_mb_per_s": {"before": bench._cpu_calibration()},
             "mc_mb_per_s": {"before": bench._cpu_calibration_multicore(nproc)}}
    t = time.time()
    inp = make_inputs(args.workload, args.seed, args.seconds, work)
    gen_s = time.time() - t
    prior = [d["info"]["pairs"] for d in earlier.values() if d and "pairs" in d["info"]]
    inp["prior_pairs"] = prior[0] if prior else None
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "work": work, "inputs": {
               k: v for k, v in inp.items() if k in ("tokens", "documents")}}
    run = Run()
    # PR_SET_CHILD_SUBREAPER: the program's processes that outlive their
    # parent (the PySpark daemon's workers, the JVM) become this
    # process's children, so stop() can wait for every one of them
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    host = Host(work, cfg, env)
    error = None
    try:
        asyncio.run(asyncio.wait_for(
            drive(args.workload, host, run, inp, args.seconds, bool(args.trace)),
            HOST_TIMEOUT_S))
    except (HostError, asyncio.TimeoutError, OSError, ValueError, KeyError) as e:
        error = f"{type(e).__name__}: {e}"
    except BaseException:  # a bug or SIGTERM: stop the program, drop scratch files
        host.stop()
        shutil.rmtree(work, ignore_errors=True)
        raise
    t_stop = time.time()
    host.stop()
    run.info["stop_s"] = time.time() - t_stop
    if error is not None:
        with open(host.log_path, "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        print(f"perfbench: {error}\n--- program log tail ---\n{tail}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    calib["sha256_mb_per_s"]["after"] = bench._cpu_calibration()
    calib["mc_mb_per_s"]["after"] = bench._cpu_calibration_multicore(nproc)

    sess = host.messages.get("session", {})
    run.figures["peak_rss_mb"] = host.peak_rss / 2**20
    failed = len(run.failures)
    run.figures["failed_ratio"] = failed / max(1, run.attempted)
    run.figures["host.sha256_mb_per_s"] = calib["sha256_mb_per_s"]["before"]
    run.figures["host.mc_mb_per_s"] = calib["mc_mb_per_s"]["before"]
    e2e = dict(zip(END_TO_END, (
        run.setup_s, stats.p50(run.primary_ms), stats.p50(run.secondary_ms))))
    run_settings = {**settings(root, sess, source), "seed": args.seed}
    if args.trace:
        base, run.info["untraced_base"] = untraced_base(earlier[0], run)
        traced = [stats.p50(v) for v in run.traced_ms]
        run.info["traced_halves_p50_ms"] = traced
        run.layers["trace.overhead_ratio"] = stats.p50([t / b for t, b in zip(traced, base)])
        if "ledger_total_ms" in run.info:
            run.layers["ledger.reconcile_ratio"] = run.info["ledger_total_ms"] / base[0]
        values = {**run.figures, **run.layers}
        # a layer this workload never enters (no span, no job) reads 0
        run.info["bypassed"] = [m["name"] for m in spec["per_layer"] if m["name"] not in values]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs_sha256": inp["digest"], "input_gen_s": gen_s,
        "figures": run.figures, "info": run.info, "failures": run.failures[:20],
        "settings": run_settings, "calibration": calib,
        "end_to_end": e2e,
    }
    if args.trace:
        detail["layers"] = run.layers
        src = os.path.join(work, "self_trace.json")
        if os.path.exists(src):
            shutil.copy(src, os.path.join(out_dir, f"{args.workload}-{args.seed}-self_trace.json"))
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
