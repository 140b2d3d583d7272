"""The program's process: one SparkSession with the program's defaults.

Started by ``run.py`` as ``python3 perfbench/host.py <config.json>``.
It talks to ``run.py`` through lines on stdout that start with
``PERFBENCH `` followed by one JSON object, and takes commands on stdin.

- ``batch`` runs its closed loops here (bulk_agg jobs, then dedup
  rounds), one operation at a time, and reports every sample.
- ``serve`` binds ``api.serve`` and waits: the load comes over HTTP
  from ``run.py``. Commands: ``trace`` starts a traced half,
  ``untrace`` ends it, ``finish`` ends the run.

With ``trace`` on, the session writes a Spark event log and the
per-layer ledger is computed here, from the spans of ``trace.Tracer``
and the event log's per-job task totals.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import stats  # noqa: E402
from trace import Tracer  # noqa: E402


#: the TraceApi calls the HTTP handlers make, one per request
API_CALLS = ("api.ingest", "api.traces_list", "api.trace_get", "api.span_get")


def emit(kind: str, **payload) -> None:
    print("PERFBENCH " + json.dumps({"kind": kind, **payload}), flush=True)


def timed(fn):
    t0 = time.time()
    out = fn()
    return out, t0, time.time()


def closed_loop(fns, seconds: float, floors):
    """Run ``fns`` in turn, one call at a time, until ``seconds`` have
    passed and each has run at least its floor; returns each one's
    ``(samples, outputs)``."""
    runs = [([], []) for _ in fns]
    deadline = time.time() + seconds
    while True:
        todo = [i for i, (samples, _) in enumerate(runs)
                if len(samples) < floors[i] or time.time() < deadline]
        if not todo:
            return runs
        for i in todo:
            out, t0, t1 = timed(fns[i])
            runs[i][0].append((t0, t1))
            runs[i][1].append(out)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def jvm_rchar(spark) -> int:
    """Bytes the JVM has read through read syscalls (``/proc/<pid>/io``).
    Parquet's vectored reads on the local file system bypass the Hadoop
    statistics that the event log's ``Bytes Read`` comes from."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/io") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("rchar:"))


def in_group(spark, group: str, fn):
    spark.sparkContext.setJobGroup(group, group)
    try:
        return timed(fn)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ---- batch: bulk_agg and dedup_corpus in turn -------------------------------


def run_batch(spark, cfg: dict, tracer: Tracer | None) -> dict:
    """Cold bulk_agg job (the end of set-up); a cold dedup LSH pair
    count, one warm job and one warm pair count, untimed (the warm-up);
    then one closed loop of jobs and pair counts in turn for
    ``seconds``. Traced, the loop is split into an untraced and a traced
    half, followed by the prefix ledgers; dedup_groups runs only there,
    as the last prefix of the dedup ledger."""
    from pyspark.sql import functions as F

    from otel_worker_spark.fixtures import service_lookup_df
    from otel_worker_spark.ops import dedup as dd
    from otel_worker_spark.pipeline import transform_batch

    t0 = time.time()  # the cold operation includes opening its inputs
    tokens = spark.read.parquet(cfg["inputs"]["tokens"])
    lookup = service_lookup_df(spark)

    def agg_frame(tok=tokens):
        return (
            transform_batch(tok, lookup, with_inner=False)
            .groupBy("signal")
            .agg(F.count("*").alias("row_count"), F.sum("n_tok").alias("sum_n_tok"))
        )

    def job():
        return sorted((r.signal, r.row_count, r.sum_n_tok) for r in agg_frame().collect())

    first, _, t1 = timed(job)
    emit("ready", cold_s=t1 - t0)

    docs = spark.read.parquet(cfg["inputs"]["documents"])

    def pairs():
        n = dd.minhash_lsh_pairs(
            docs, hash_impl="xxhash64", n_perms=dd.PROD_PERMS, n_bands=dd.PROD_BANDS
        ).count()
        dd.release_persisted_signatures()
        return n

    # the first warm bulk_agg job and pair count still run 10-30% slow
    # (JIT), by a share that swings with the host's load, so they go
    # untimed
    pairs_cold, a, b = timed(pairs)
    warmed, c, d = timed(job)
    warm_pairs, e, f = timed(pairs)
    emit("warm", pairs_cold_s=b - a, warm_job_s=d - c, warm_pairs_s=f - e)

    # jobs and pair counts take turns, so a slow spell of the host
    # lands on both loops rather than on every sample of one. An
    # untraced loop's median is of three jobs and six pair counts at
    # least (a pair count is shorter and swings more); a traced half's,
    # of one each
    if tracer is None:
        window, floors = cfg["seconds"], (3, 6)
    else:
        window, floors = cfg["seconds"] / 2, (1, 1)
    (samples, outs), (p_samples, p_outs) = closed_loop((job, pairs), window, floors)
    bulk = {"samples": samples, "outputs": [first, warmed] + outs}
    dedup = {"samples": p_samples, "pairs": [pairs_cold, warm_pairs] + p_outs}
    if tracer is not None:
        (samples, outs), (p_samples, p_outs) = closed_loop(
            (spanned(tracer, "bulk_agg.job", job), spanned(tracer, "dedup.lsh_pairs", pairs)),
            window, floors)
        bulk["traced_samples"] = samples
        bulk["outputs"] += outs
        dedup["traced_samples"] = p_samples
        dedup["pairs"] += p_outs
        bulk.update(trace_bulk_agg(spark, cfg, tracer, tokens, lookup, agg_frame))
        dedup.update(trace_dedup(spark, tracer, docs))
    return {"bulk_agg": bulk, "dedup": dedup}


def spanned(tracer: Tracer, name: str, fn):
    def call():
        with tracer.span(name):
            return fn()

    return call


def trace_bulk_agg(spark, cfg, tracer, tokens, lookup, agg_frame) -> dict:
    """The bulk_agg prefix ledger, and the job at local[nproc] on the
    quarter of the input that the local[1] baseline runs on."""
    from otel_worker_spark.enrich import enrich_spans
    from otel_worker_spark.parse_arrow import parse_token_sequences_arrow

    prefixes = [
        ("tokens.scan", lambda: noop(tokens)),
        ("parse_arrow.kernel", lambda: noop(parse_token_sequences_arrow(tokens, with_inner=False))),
        ("enrich.join", lambda: noop(
            enrich_spans(parse_token_sequences_arrow(tokens, with_inner=False), lookup))),
        ("route.aggregate", lambda: noop(agg_frame())),
    ]
    walls = ledger(spark, tracer, prefixes)
    scan_read = tracer.roots("prefix.tokens.scan")[-1]["attrs"]["jvm_read_bytes"]
    quarter = spark.read.parquet(*quarter_files(cfg))
    rows = quarter.count()
    return {"prefix_walls": walls, "scan_read_bytes": scan_read,
            "quarter_seq_per_s": rows / warm_p50(lambda: agg_frame(quarter).collect())}


def trace_dedup(spark, tracer, docs) -> dict:
    """The dedup prefix ledger (its candidates prefix counts the
    candidate pairs, its last collects ``dedup_groups`` for the output
    checks) and the largest LSH bucket."""
    from pyspark.sql import functions as F

    from otel_worker_spark.ops import dedup as dd

    def sigs():
        return dd.minhash_signatures(docs, "xxhash64", dd.PROD_PERMS)

    out: dict = {}

    def candidates():
        out["candidate_pairs"] = dd.minhash_lsh_pairs(docs, 0.0, "xxhash64").count()

    def groups():
        rows = dd.dedup_groups(docs, hash_impl="xxhash64").collect()
        out["groups"] = [(r.doc_id, r.survivor_doc_id) for r in rows]

    # dedup_groups verifies the candidates of the default LSH width;
    # the pair count of the closed loop uses the production width
    prefixes = [
        ("dedup.signatures", lambda: noop(sigs())),
        ("dedup.lsh_pairs", lambda: noop(dd.minhash_lsh_pairs(
            docs, hash_impl="xxhash64", n_perms=dd.PROD_PERMS, n_bands=dd.PROD_BANDS))),
        ("dedup.candidates", candidates),
        ("dedup.verify", lambda: noop(dd.verified_pairs(docs, 0.5, "xxhash64"))),
        ("dedup.groups", groups),
    ]
    out["prefix_walls"] = ledger(spark, tracer, prefixes, after=dd.release_persisted_signatures)
    out["max_bucket_docs"] = (
        dd.band_frame(sigs(), dd.PROD_PERMS, dd.PROD_BANDS)
        .groupBy("band", "band_sig").count().agg(F.max("count")).collect()[0][0]
    )
    dd.release_persisted_signatures()
    return out


def ledger(spark, tracer: Tracer, prefixes, after=None) -> dict[str, float]:
    """Run each prefix plan once, in order, under its own job group;
    returns each prefix's wall (s)."""
    walls: dict[str, float] = {}
    for name, fn in prefixes:
        read = jvm_rchar(spark)
        with tracer.span(f"prefix.{name}") as sp:
            _, a, b = in_group(spark, name, fn)
        sp["attrs"]["jvm_read_bytes"] = jvm_rchar(spark) - read
        if after is not None:
            after()
        walls[name] = b - a
    return walls


def quarter_files(cfg: dict) -> list[str]:
    d = cfg["inputs"]["tokens"]
    files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    return files[: max(1, len(files) // 4)]


def warm_p50(fn, warm: int = 2) -> float:
    """Median wall (s) of ``warm`` calls after one untimed call."""
    fn()
    return stats.p50([b - a for _, a, b in (timed(fn) for _ in range(warm))])


def local1_baseline(cfg: dict) -> float:
    """bulk_agg seq/s at local[1] on the quarter of the token files
    that ``trace_bulk_agg`` also runs at local[nproc] (median of two
    warm jobs), in a fresh session of the same JVM."""
    from pyspark.sql import functions as F

    from otel_worker_spark.fixtures import service_lookup_df
    from otel_worker_spark.pipeline import transform_batch
    from otel_worker_spark.session import get_spark

    spark = get_spark(app_name="perfbench-local1", cores=1)
    tok = spark.read.parquet(*quarter_files(cfg))
    n = tok.count()
    lookup = service_lookup_df(spark)

    def job():
        transform_batch(tok, lookup, with_inner=False).groupBy("signal").agg(
            F.count("*"), F.sum("n_tok")
        ).collect()

    rate = n / warm_p50(job)
    spark.stop()
    return rate


def batch_layers(res: dict, jobs: list[dict]) -> dict:
    """Per-layer figures of a traced batch run (``run.py`` adds the two
    validity ratios, which need the untraced run)."""
    bulk, dedup = res["bulk_agg"], res["dedup"]
    walls, w = bulk["prefix_walls"], dedup["prefix_walls"]
    g = {name: eventlog.by_group(jobs, name) for name in walls}
    scan, kern, full = g["tokens.scan"], g["parse_arrow.kernel"], g["route.aggregate"]
    # one bulk_agg job, one dedup LSH pair count and one dedup_groups
    cycle = eventlog.total([j for j in jobs if j["group"] in
                            ("route.aggregate", "dedup.lsh_pairs", "dedup.groups")])
    out = bulk["outputs"][-1]
    quarantined = sum(c for s, c, _ in out if s == "quarantine")
    return {
        "tokens.scan_s": walls["tokens.scan"],
        # bytes the JVM read while the scan prefix ran: the event log's
        # parquet "Bytes Read" counts only footers here (see jvm_rchar)
        "spark.input_bytes": bulk["scan_read_bytes"],
        "parse_arrow.kernel_s": walls["parse_arrow.kernel"] - walls["tokens.scan"],
        "parse_arrow.task_cpu_s": kern["cpu_s"] - scan["cpu_s"],
        "parse_arrow.python_wait_s": (kern["run_s"] - kern["cpu_s"])
        - (scan["run_s"] - scan["cpu_s"]),
        "parse_arrow.rows_out": sum(c for _, c, _ in out) - quarantined,
        "parse_arrow.rows_quarantined": quarantined,
        "enrich.join_s": walls["enrich.join"] - walls["parse_arrow.kernel"],
        "route.aggregate_s": walls["route.aggregate"] - walls["enrich.join"],
        "spark.shuffle_bytes": full["shuffle_write_bytes"],
        "dedup.signatures_s": w["dedup.signatures"],
        "dedup.lsh_pairs_s": w["dedup.lsh_pairs"] - w["dedup.signatures"],
        "dedup.verify_s": w["dedup.verify"] - w["dedup.candidates"],
        "dedup.components_s": w["dedup.groups"] - w["dedup.verify"],
        "dedup.candidate_pairs": dedup["candidate_pairs"],
        "dedup.max_bucket_docs": dedup["max_bucket_docs"],
        "spark.spill_bytes": cycle["spill_bytes"],
        "spark.task_run_s": cycle["run_s"],
        "spark.task_cpu_s": cycle["cpu_s"],
        "spark.gc_s": cycle["gc_s"],
    }


# ---- serving workloads ------------------------------------------------------------


def serve_layers(tracer: Tracer, jobs: list[dict], windows: list[list[float]]) -> dict:
    """Per-call medians of the traced halves; per-request ratios from
    the spans and jobs that fall inside each request."""
    p = lambda name, where=None: stats.p50(tracer.durations_ms(name, where))  # noqa: E731
    spans_tbl = lambda s: s["attrs"].get("table") == "spans"  # noqa: E731
    ingests = tracer.roots("api.ingest")
    reads = [s for s in tracer.spans
             if s["name"] in ("api.traces_list", "api.trace_get", "api.span_get")]

    def inside(reqs, name):
        return [s for s in tracer.spans if s["name"] == name
                and any(r["start"] <= s["start"] <= r["end"] for r in reqs)]

    out = {
        "api.ingest_ms": p("api.ingest"),
        "api.traces_list_ms": p("api.traces_list"),
        "api.trace_get_ms": p("api.trace_get"),
        "api.span_get_ms": p("api.span_get"),
        "api.notify_ms": p("api.notify"),
        "ws.broadcast_ms": p("ws.broadcast"),
        "queries.traces_list_ms": p("queries.traces_list"),
        "fixtures.token_df_ms": p("fixtures.token_df"),
        "proto.decode_ms": p("proto.decode"),
        "pipeline.ingest_batch_ms": p("pipeline.ingest_batch"),
        "store.spans_append_ms": p("store.append", spans_tbl),
        "store.readback_ms": stats.p50([
            (s["end"] - s["start"]) * 1000.0
            for s in inside(tracer.roots("pipeline.ingest_batch"), "store.read_batch")
            if spans_tbl(s)
        ]),
        "store.receipts_manifest_ms": p("store.receipts_manifest"),
        "store.read_plan_ms": stats.p50([
            (s["end"] - s["start"]) * 1000.0 for s in inside(reads, "store.read")
        ]),
    }
    if ingests:
        n = len(ingests)
        appends = inside(ingests, "store.append")
        span_rows = sum(s["attrs"].get("rows", 0) for s in appends if spans_tbl(s))
        out["store.log_records_read_per_export"] = sum(
            s["attrs"]["records"] for s in inside(ingests, "store.log_replay")) / n
        out["store.files_written_per_export"] = sum(s["attrs"]["files"] for s in appends) / n
        out["store.bytes_written_per_span"] = (
            sum(s["attrs"]["bytes"] for s in appends) / span_rows if span_rows else 0.0
        )
        out["spark.jobs_per_export"] = eventlog.within(jobs, ingests)["jobs"] / n
    if reads:
        n = len(reads)
        rj = eventlog.within(jobs, reads)
        out["spark.jobs_per_read"] = rj["jobs"] / n
        out["spark.input_bytes_per_read"] = rj["input_bytes"] / n
        live = [s for s in inside(reads, "store.live_files") if spans_tbl(s)]
        replay = [s for s in inside(reads, "store.log_replay") if spans_tbl(s)]
        out["store.live_files"] = live[-1]["attrs"]["n"] if live else 0
        out["store.log_length"] = replay[-1]["attrs"]["records"] if replay else 0
    win = eventlog.total([j for j in jobs if any(a <= j["submit"] <= b for a, b in windows)])
    out.update({
        "spark.task_run_s": win["run_s"],
        "spark.task_cpu_s": win["cpu_s"],
        "spark.gc_s": win["gc_s"],
        "spark.input_bytes": win["input_bytes"],
        "spark.shuffle_bytes": win["shuffle_write_bytes"],
        "spark.spill_bytes": win["spill_bytes"],
    })
    return out


def run_server(spark, cfg: dict, tracer: Tracer | None) -> dict:
    from otel_worker_spark.api import TraceApi, serve
    from otel_worker_spark.fixtures import service_lookup_df
    from otel_worker_spark.pipeline import PipelineStores

    stores = PipelineStores(spark, os.path.join(cfg["work"], "store"))
    api = TraceApi(spark, stores, service_lookup_df(spark))
    server = serve(api)
    emit("ready", port=server.server_address[1])
    undo = None
    windows: list[list[float]] = []  # [on, off] of each traced half
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "trace" and tracer is not None and undo is None:
                undo = tracer.instrument()
                windows.append([time.time(), time.time()])
                emit("tracing")
            elif cmd == "untrace" and undo is not None:
                undo()
                undo = None
                windows[-1][1] = time.time()
                emit("untraced")
            elif cmd == "finish":
                break
    finally:
        if undo is not None:
            undo()
            windows[-1][1] = time.time()
        server.shutdown()
        server.server_close()
    return {"windows": windows}


# ---- main -----------------------------------------------------------------------


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    from otel_worker_spark.session import get_spark

    conf = {}
    events = os.path.join(cfg["work"], "events")
    if cfg["trace"]:
        os.makedirs(events, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app_name=f"perfbench-{cfg['workload']}", extra_conf=conf)
    sc = spark.sparkContext
    emit("session", t=time.time(), master=sc.master,
         driver_memory=sc.getConf().get("spark.driver.memory", ""),
         spark_version=spark.version,
         jdk=sc._jvm.System.getProperty("java.version"))
    tracer = Tracer() if cfg["trace"] else None
    workload = cfg["workload"]
    if workload == "batch":
        res = run_batch(spark, cfg, tracer)
    else:
        res = run_server(spark, cfg, tracer)
    if tracer is None:
        # run.py ends the process tree on this message
        emit("result", result=res, layers={})
        return 0
    spark.stop()  # flushes the event log
    jobs = eventlog.read_jobs(events)
    if workload == "batch":
        layers = batch_layers(res, jobs)
        layers["bulk_agg.local1_seq_per_s"] = local1_baseline(cfg)
    else:
        layers = serve_layers(tracer, jobs, res["windows"])
        res["api_spans"] = [(sp["start"], sp["end"]) for sp in tracer.spans
                            if sp["name"] in API_CALLS]
    tracer.write_otlp(os.path.join(cfg["work"], "self_trace.json"), f"perfbench-{workload}")
    emit("result", result=res, layers=layers)
    return 0


if __name__ == "__main__":
    sys.exit(main())
