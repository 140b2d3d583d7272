"""Checks of the benchmark itself. Run from the repository root:

    python3 perfbench/selfcheck.py            # seconds, no Spark
    python3 perfbench/selfcheck.py --spark    # also the token-rendering check

1. The same seed gives byte-identical inputs; another seed gives other inputs.
2. Every metric name the benchmark prints matches ``[A-Za-z0-9_.-]+`` and
   is listed, with its unit, in ``BENCHMARK.json`` (the figures of the
   runs recorded in ``.perfbench_out/`` included).
3. The ``_tail`` rule never reports a percentile with fewer than ten
   samples beyond it.
4. Against a stub server that stalls once, the open-loop generator
   charges the later requests from their due time and reports its own
   lateness.
5. (``--spark``) The token table ``run.py`` renders through the fixture
   recipe's DuckDB dialect equals ``token_sequences_from_events``.
"""

from __future__ import annotations

import asyncio
import glob
import json
import os
import random
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import loadgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def check_seeded_inputs() -> None:
    for make in (
        lambda s: gen.table_digest(gen.events_table(s, n=5000)),
        lambda s: gen.table_digest(gen.documents_table(s, n=1000).table),
        lambda s: gen.exports_digest(gen.exports(s, 5)),
    ):
        assert make(7) == make(7), "same seed, different inputs"
        assert make(7) != make(8), "different seeds, same inputs"


def check_metric_names(root: str) -> None:
    """Names and units in BENCHMARK.json are well formed, the end-to-end
    list is what run.py computes, and every figure a recorded run wrote
    to ``.perfbench_out/`` is listed."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    listed = spec["end_to_end"] + spec["per_layer"]
    for m in listed:
        assert name.match(m["name"]) and unit.match(m["unit"]), m
    assert len({m["name"] for m in listed}) == len(listed), "a metric is listed twice"
    assert tuple(m["name"] for m in spec["end_to_end"]) == run.END_TO_END
    per_layer = {m["name"] for m in spec["per_layer"]}
    out = os.path.join(root, ".perfbench_out")
    for path in glob.glob(os.path.join(out, "*-trace[01].json")):
        with open(path) as f:
            detail = json.load(f)
        for k in list(detail["figures"]) + list(detail.get("layers", {})):
            assert k in per_layer, f"{os.path.basename(path)}: {k!r} not in BENCHMARK.json"


def check_tail_rule() -> None:
    rng = random.Random(0)
    for n in range(0, 300):
        values = [rng.random() for _ in range(n)]
        value, pct, count = stats.tail(values)
        assert count == n
        if pct is None:
            assert n <= stats.TAIL_MIN_BEYOND
            continue
        beyond = sum(v > value for v in values)
        assert beyond >= stats.TAIL_MIN_BEYOND, (n, pct, beyond)


def check_open_loop_stall() -> None:
    stall_s, rate, n = 1.0, 10.0, 8

    async def main():
        calls = 0

        async def handle(reader, writer):
            nonlocal calls
            await reader.readuntil(b"\r\n\r\n")
            calls += 1
            if calls == 1:
                await asyncio.sleep(stall_s)
            writer.write(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
            await writer.drain()
            writer.close()

        server = await asyncio.start_server(handle, "127.0.0.1", 0)
        port = server.sockets[0].getsockname()[1]
        try:
            start = time.time() + 0.05
            return await loadgen.open_loop(
                lambda i: loadgen.http("127.0.0.1", port, "GET", "/"),
                n, rate, start, max_conns=1,
            )
        finally:
            server.close()
            await server.wait_closed()

    samples, late, _ = asyncio.run(main())
    assert all(s.status == 200 for s in samples)
    for s in samples[1:]:
        # queued behind the stall: charged from its due time, not its send
        assert s.done - s.due >= stall_s - s.index / rate - 0.05, s
        assert s.sent - s.due >= stall_s - s.index / rate - 0.05, s
    assert late >= stall_s - 1 / rate - 0.05, late


def check_token_rendering(root: str) -> None:
    from pyspark.sql import functions as F

    from otel_worker_spark.fixtures import token_sequences_from_events
    from otel_worker_spark.session import get_spark

    work = os.path.join(root, ".perfbench_work", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import pyarrow.parquet as pq

        events = gen.events_table(3, n=400)
        pq.write_table(events, os.path.join(work, "events.parquet"))
        run.write_tokens(events, os.path.join(work, "tokens"), files=2)
        spark = get_spark(app_name="perfbench-selfcheck", cores=1)
        ours = spark.read.parquet(os.path.join(work, "tokens"))
        theirs = token_sequences_from_events(
            spark, None, events=spark.read.parquet(os.path.join(work, "events.parquet"))
        )
        cols = ["doc_id", "tokens", "n_tok", "source"]
        a = ours.select(*cols).exceptAll(theirs.select(*cols)).count()
        b = theirs.select(*cols).exceptAll(ours.select(*cols)).count()
        assert a == b == 0 and ours.count() == 400, (a, b)
        assert ours.agg(F.sum("n_tok")).collect()[0][0] > 0
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    checks = [
        ("seeded inputs", check_seeded_inputs),
        ("metric names", lambda: check_metric_names(root)),
        ("tail rule", check_tail_rule),
        ("open loop under a stall", check_open_loop_stall),
    ]
    if "--spark" in sys.argv[1:]:
        checks.append(("token rendering", lambda: check_token_rendering(root)))
    failed = 0
    for name, fn in checks:
        try:
            fn()
            print(f"ok    {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL  {name}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
