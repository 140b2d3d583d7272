"""Load generator: asyncio on one thread, stdlib sockets only.

One event loop drives every request and the websocket subscriber, so
the generator never holds more threads plus connections than it is
given (``max_conns`` HTTP connections, plus one websocket).

- ``open_loop``: requests are due at fixed times; each is timed from its
  due time, so a stall charges every request queued behind it, and the
  generator reports how late it sent (its own lateness).
- ``WsSubscriber``: an RFC 6455 client of ``/api/ws`` that timestamps
  every frame it receives.
"""

from __future__ import annotations

import asyncio
import base64
import json
import os
import struct
import time
from dataclasses import dataclass


@dataclass
class Reply:
    status: int
    body: bytes
    sent: float
    done: float


async def http(host: str, port: int, method: str, path: str,
               body: bytes = b"", ctype: str | None = None) -> Reply:
    sent = time.time()
    reader, writer = await asyncio.open_connection(host, port)
    try:
        head = [f"{method} {path} HTTP/1.1", f"Host: {host}:{port}",
                f"Content-Length: {len(body)}", "Connection: close"]
        if ctype:
            head.append(f"Content-Type: {ctype}")
        writer.write(("\r\n".join(head) + "\r\n\r\n").encode() + body)
        await writer.drain()
        status_line = await reader.readline()
        status = int(status_line.split()[1])
        length = None
        while True:
            line = await reader.readline()
            if line in (b"\r\n", b"\n", b""):
                break
            k, _, v = line.decode("latin-1").partition(":")
            if k.strip().lower() == "content-length":
                length = int(v.strip())
        data = await (reader.readexactly(length) if length is not None else reader.read())
    finally:
        writer.close()
        try:
            await writer.wait_closed()
        except OSError:
            pass
    return Reply(status, data, sent, time.time())


@dataclass
class Sample:
    index: int
    due: float
    sent: float
    done: float
    status: int
    body: bytes


async def open_loop(send, n: int, rate: float, start: float, max_conns: int):
    """Send request ``i`` (via ``await send(i)``) at ``start + i / rate``.

    At most ``max_conns`` requests are in flight; a due request waits
    for a free connection and that wait counts in its latency. Returns
    the samples, the generator's largest lateness (s) and the largest
    number in flight."""
    gate = asyncio.Semaphore(max_conns)
    inflight = 0
    peak = 0
    samples: list[Sample] = []

    async def one(i: int) -> None:
        nonlocal inflight, peak
        due = start + i / rate
        await asyncio.sleep(max(0.0, due - time.time()))
        async with gate:
            inflight += 1
            peak = max(peak, inflight)
            try:
                reply = await send(i)
            finally:
                inflight -= 1
        samples.append(Sample(i, due, reply.sent, reply.done, reply.status, reply.body))

    tasks = [asyncio.create_task(one(i)) for i in range(n)]
    for t in tasks:
        await t
    samples.sort(key=lambda s: s.index)
    late = max((s.sent - s.due for s in samples), default=0.0)
    return samples, late, peak


class WsSubscriber:
    """Minimal RFC 6455 client; ``frames`` holds (received_at, message)."""

    def __init__(self):
        self.frames: list[tuple[float, dict]] = []
        self._reader = None
        self._writer = None
        self._task = None

    async def connect(self, host: str, port: int) -> None:
        self._reader, self._writer = await asyncio.open_connection(host, port)
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET /api/ws HTTP/1.1\r\nHost: {host}:{port}\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        )
        self._writer.write(req.encode())
        await self._writer.drain()
        status = await self._reader.readline()
        if b" 101 " not in status:
            raise ConnectionError(f"websocket upgrade refused: {status!r}")
        while (await self._reader.readline()) not in (b"\r\n", b""):
            pass
        self._task = asyncio.create_task(self._read())

    def _frame(self, payload: bytes, opcode: int) -> bytes:
        mask = os.urandom(4)
        n = len(payload)
        head = bytes([0x80 | opcode])
        if n < 126:
            head += bytes([0x80 | n])
        else:
            head += bytes([0x80 | 126]) + struct.pack(">H", n)
        return head + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload))

    async def _read(self) -> None:
        r = self._reader
        try:
            while True:
                b0, b1 = await r.readexactly(2)
                opcode, n = b0 & 0x0F, b1 & 0x7F
                if n == 126:
                    n = struct.unpack(">H", await r.readexactly(2))[0]
                elif n == 127:
                    n = struct.unpack(">Q", await r.readexactly(8))[0]
                payload = await r.readexactly(n) if n else b""
                if opcode == 0x1:
                    self.frames.append((time.time(), json.loads(payload)))
                elif opcode == 0x9:
                    self._writer.write(self._frame(payload, 0xA))
                elif opcode == 0x8:
                    return
        except (asyncio.IncompleteReadError, ConnectionError):
            return

    async def close(self) -> None:
        if self._writer is None:
            return
        try:
            self._writer.write(self._frame(b"", 0x8))
            await self._writer.drain()
            await asyncio.wait_for(self._task, 5)
        except (asyncio.TimeoutError, ConnectionError):
            self._task.cancel()
            await asyncio.gather(self._task, return_exceptions=True)
        finally:
            self._writer.close()
