"""API host — the reference's serving surface re-expressed stdlib-only.

The reference runs an ASP.NET host next to the indexer with
`/health` (Api/HealthService.cs:52-60) and a websocket that broadcasts
each committed batch's transaction hashes — plus the deadbeef magic on
reorgs (Api/TransactionHashBroadcastService.cs:41-57, Indexer.cs:37-38)
— and a `publish_event` → pg_notify channel (0.0.64.sql:2384-2391, K6
— served by streaming/notify.PgNotifyBus for Postgres JDBC sinks; the
channels here are the portable in-process/HTTP twins).

Two push channels, both stdlib-only (no websocket library ships in
this environment — RFC 6455 needs only sha1/base64/struct):

- ``GET /events?cursor=N[&timeout=S]`` → cursor-based long-poll:
  blocks until an announcement with seq >= N exists (or the timeout
  lapses), then returns ``{"next_cursor": M, "events": [{"seq": k,
  "hashes": [...]}]}``. Unlike the reference's fire-and-forget
  socket, the cursor lets a consumer resume without losing
  announcements (bounded by the ring capacity).
- ``GET /ws`` with ``Upgrade: websocket`` → a REAL RFC 6455
  websocket matching the reference's contract verbatim
  (Api/TransactionHashBroadcastService.cs:41-57): each committed
  batch's hashes pushed as one text frame of JSON, reorgs as the
  deadbeef magic. The frame codec is ``sources.ws``'s (shared with
  the newHeads client); the session policy is below: a ping is
  answered with a pong, a close is echoed, an unmasked client frame
  ends the session. ``?cursor=N`` optionally replays from the ring
  like the long-poll (default: only new announcements, the
  reference's fire-and-forget behavior).
- ``GET /health`` → 200/503 with the staleness verdict
  (``streaming.health.batch_is_fresh``: a batch older than 30 s flags
  the instance unhealthy, like HealthService).

``BroadcastLog.publish`` IS the pipeline's ``on_imported`` hook —
wiring is one constructor argument.
"""

from __future__ import annotations

import datetime as dt
import json
import select
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from blockchain_indexer_spark.sources.ws import (
    SocketReader,
    encode_frame,
    read_frame,
    ws_accept_key,
)
from blockchain_indexer_spark.streaming.health import batch_is_fresh


def _drain_buffered(rfile, sock) -> bytes:
    """Pull any bytes the handler's BufferedReader holds past the HTTP
    request WITHOUT blocking: read1 serves from the buffer when
    non-empty (no syscall); the socket is flipped non-blocking so an
    empty buffer's single raw read returns immediately."""
    sock.setblocking(False)
    try:
        chunk = rfile.read1(1 << 16)
        return chunk or b""
    except (BlockingIOError, OSError, ValueError):
        return b""
    finally:
        sock.setblocking(True)


class BroadcastLog:
    """Thread-safe announcement ring with monotonically increasing
    sequence numbers; `publish` is the K5 `on_imported` hook."""

    def __init__(self, capacity: int = 4096) -> None:
        self._events: list[tuple[int, list[str]]] = []
        self._base_seq = 0
        self._cap = capacity
        self._cond = threading.Condition()
        self.last_batch_at: dt.datetime | None = None

    def touch(self) -> None:
        """Liveness heartbeat: refresh last_batch_at WITHOUT appending
        an event — an imported batch of empty blocks (or a pure
        redelivery) proves the pipeline alive but has nothing to
        announce, and waking every long-poll client for it would
        defeat the long-poll."""
        with self._cond:
            self.last_batch_at = dt.datetime.now(dt.timezone.utc)

    def publish(self, hashes: list[str]) -> None:
        with self._cond:
            seq = self._base_seq + len(self._events)
            self._events.append((seq, list(hashes)))
            if len(self._events) > self._cap:
                drop = len(self._events) - self._cap
                self._events = self._events[drop:]
                self._base_seq += drop
            self.last_batch_at = dt.datetime.now(dt.timezone.utc)
            self._cond.notify_all()

    @property
    def end_cursor(self) -> int:
        """Cursor one past the newest announcement — the 'only new
        events from here' starting point a websocket subscriber gets by
        default (the reference's fire-and-forget semantics)."""
        with self._cond:
            return self._base_seq + len(self._events)

    def read(self, cursor: int, timeout: float = 25.0) -> list[tuple[int, list[str]]]:
        """Announcements with seq >= cursor, long-polling up to
        `timeout` seconds when none exist yet."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while True:
                newer = [e for e in self._events if e[0] >= cursor]
                if newer:
                    return newer
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return []
                self._cond.wait(remaining)


class ApiHost:
    """Tiny threading HTTP host for /health and /events.

    `health_fn` (optional) adds a deployment-specific verdict (e.g.
    `streaming.health.is_healthy` over the final tables) AND'ed with
    the batch-freshness rule.
    """

    def __init__(
        self,
        log: BroadcastLog,
        host: str = "127.0.0.1",
        port: int = 0,
        health_fn=None,
        max_age_seconds: int = 30,
    ) -> None:
        self.log = log
        api = self

        class Handler(BaseHTTPRequestHandler):
            # RFC 6455 upgrades are an HTTP/1.1 feature; every plain
            # response below carries Content-Length, so keep-alive is
            # safe too
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):  # quiet
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:  # noqa: N802 (stdlib API)
                url = urlparse(self.path)
                if url.path == "/health":
                    now = dt.datetime.now(dt.timezone.utc)
                    last = api.log.last_batch_at
                    fresh = last is not None and batch_is_fresh(last, now, max_age_seconds)
                    try:
                        healthy = fresh and (
                            health_fn() if health_fn is not None else True
                        )
                    except Exception:
                        # a throwing health probe IS an unhealthy
                        # verdict — return the 503 + diagnostics the
                        # monitor needs, not a connection reset
                        healthy = False
                    self._json(
                        200 if healthy else 503,
                        {
                            "healthy": healthy,
                            "last_batch_age_s": None
                            if last is None
                            else round((now - last).total_seconds(), 3),
                        },
                    )
                elif url.path == "/events":
                    q = parse_qs(url.query)
                    try:
                        cursor = int(q.get("cursor", ["0"])[0])
                        timeout = float(q.get("timeout", ["25"])[0])
                        # NaN passes float() but poisons every deadline
                        # comparison in read() into an infinite busy
                        # loop; clamp instead of trusting the client
                        if not timeout == timeout:
                            raise ValueError("timeout is NaN")
                        timeout = min(max(timeout, 0.0), 60.0)
                    except ValueError:
                        self._json(400, {"error": "cursor/timeout must be numeric"})
                        return
                    events = api.log.read(cursor, timeout)
                    next_cursor = (events[-1][0] + 1) if events else cursor
                    self._json(
                        200,
                        {
                            "next_cursor": next_cursor,
                            "events": [{"seq": s, "hashes": h} for s, h in events],
                        },
                    )
                elif url.path == "/ws":
                    self._websocket(url)
                else:
                    self._json(404, {"error": "unknown path"})

            def _websocket(self, url) -> None:
                """K5 as a real RFC 6455 push socket
                (Api/TransactionHashBroadcastService.cs:41-57): one
                text frame of {"seq": n, "hashes": [...]} per committed
                batch; reorgs arrive as the deadbeef magic hash.
                Client pings are answered with pongs; a client close
                is echoed and ends the session."""
                if self.headers.get("Upgrade", "").lower() != "websocket":
                    self._json(400, {"error": "websocket upgrade required"})
                    return
                key = self.headers.get("Sec-WebSocket-Key")
                if not key:
                    self._json(400, {"error": "missing Sec-WebSocket-Key"})
                    return
                # the default cursor is taken before the 101: a batch
                # published once the client sees the upgrade is pushed
                q = parse_qs(url.query)
                try:
                    cursor = int(q.get("cursor", [str(api.log.end_cursor)])[0])
                except ValueError:
                    cursor = api.log.end_cursor
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
                self.end_headers()
                self.close_connection = True
                reader = SocketReader(
                    self.connection, _drain_buffered(self.rfile, self.connection)
                )
                try:
                    while True:
                        # drain ALL waiting client frames first —
                        # reader.buffered covers bytes pipelined behind
                        # the upgrade request, select() covers the
                        # kernel buffer; a blocking read inside the
                        # readable branch keeps partial frames whole.
                        # Bounded per push cycle so a flooding client
                        # can't starve the broadcast.
                        for _ in range(64):
                            if not (
                                reader.buffered
                                or select.select([self.connection], [], [], 0)[0]
                            ):
                                break
                            # EOF or an unmasked frame raises
                            # ConnectionError: the session ends
                            opcode, payload = read_frame(reader.read, masked=True)
                            if opcode == 0x8:  # close → echo and finish
                                self.wfile.write(encode_frame(payload, 0x8))
                                return
                            if opcode == 0x9:  # ping → pong, same payload
                                self.wfile.write(encode_frame(payload, 0xA))
                            # pong (0xA) and client data frames: ignored —
                            # the reference's socket is broadcast-only
                        for seq, hashes in api.log.read(cursor, timeout=0.25):
                            body = json.dumps({"seq": seq, "hashes": hashes}).encode()
                            self.wfile.write(encode_frame(body, 0x1))
                            cursor = seq + 1
                except OSError:
                    return  # client went away, or sent a bad frame

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    def start(self) -> "ApiHost":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
