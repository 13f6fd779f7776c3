"""Client-side RFC 6455 websocket + ``eth_subscribe("newHeads")`` —
the push half of the reference's live mode
(`Sources/LiveSource.cs:21-130`: StreamingWebSocketClient +
EthNewBlockHeadersSubscription, 20 s stall timeout at lines 75-83).

Stdlib-only (socket/ssl-free ws:// URLs; RFC 6455 needs only
sha1/base64/struct + os.urandom for the §5.3 masking nonce). The
server-side frame codec lives in ``streaming.api``; this module adds
the client half: handshake with Sec-WebSocket-Accept verification and
MASKED client→server frames (§5.1 — a server must drop unmasked
client frames, as ours does).

The transport contract mirrors the reference exactly:

- subscribe once, then each pushed header is surfaced through
  ``next_head(timeout)``;
- a 20 s silence raises ``TimeoutError`` (LiveSource.cs:83 sets a
  TimeoutException on the completion source);
- pings are answered with pongs transparently; a server close ends
  the subscription (`WebSocketStreamingErrorEventHandler` path).
"""

from __future__ import annotations

import base64
import json
import os
import select
import socket
import struct
import time
from urllib.parse import urlparse

from blockchain_indexer_spark.streaming.api import ws_accept_key


def mask_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """One masked client→server frame, FIN set (§5.2-5.3)."""
    mask = os.urandom(4)
    n = len(payload)
    head = bytes([0x80 | opcode])
    if n < 126:
        head += bytes([0x80 | n])
    elif n < 1 << 16:
        head += bytes([0x80 | 126]) + struct.pack(">H", n)
    else:
        head += bytes([0x80 | 127]) + struct.pack(">Q", n)
    return head + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload))


class WsConnection:
    """A connected, upgraded client websocket over a ws:// URL."""

    def __init__(self, url: str, connect_timeout: float = 10.0) -> None:
        u = urlparse(url)
        if u.scheme != "ws":
            raise ValueError(f"only ws:// URLs supported (got {url!r})")
        host, port = u.hostname or "localhost", u.port or 80
        path = u.path or "/"
        if u.query:
            path += "?" + u.query
        self._sock = socket.create_connection((host, port), timeout=connect_timeout)
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        self._sock.sendall(req.encode())
        # read the 101 response up to the blank line, byte-wise so no
        # pipelined frame bytes are swallowed into a buffer select()
        # can't see (the server-side lesson of ADVICE r3, applied here)
        head = b""
        while b"\r\n\r\n" not in head:
            b = self._sock.recv(1)
            if not b:
                raise ConnectionError("websocket handshake: connection closed")
            head += b
            if len(head) > 1 << 16:
                raise ConnectionError("websocket handshake: oversized response")
        lines = head.decode("latin-1").split("\r\n")
        if " 101 " not in lines[0] + " ":
            raise ConnectionError(f"websocket handshake refused: {lines[0]!r}")
        hdrs = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            if _:
                hdrs[k.strip().lower()] = v.strip()
        if hdrs.get("sec-websocket-accept") != ws_accept_key(key):
            raise ConnectionError("websocket handshake: bad Sec-WebSocket-Accept")
        self._pending = b""

    # -- frame I/O ----------------------------------------------------
    def _read_exact(self, n: int, deadline: float) -> bytes:
        out = self._pending[:n]
        self._pending = self._pending[n:]
        while len(out) < n:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("websocket read timed out")
            r, _, _ = select.select([self._sock], [], [], left)
            if not r:
                raise TimeoutError("websocket read timed out")
            chunk = self._sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("websocket connection closed")
            out += chunk
        return out

    def recv_frame(self, timeout: float) -> tuple[int, bytes]:
        """One server→client frame (opcode, payload); pings are
        answered and skipped. Raises TimeoutError after `timeout`
        seconds of silence, ConnectionError on EOF/close."""
        deadline = time.monotonic() + timeout
        while True:
            head = self._read_exact(2, deadline)
            opcode, n = head[0] & 0x0F, head[1] & 0x7F
            if head[1] & 0x80:
                raise ConnectionError("server frames must be unmasked (§5.1)")
            if n == 126:
                n = struct.unpack(">H", self._read_exact(2, deadline))[0]
            elif n == 127:
                n = struct.unpack(">Q", self._read_exact(8, deadline))[0]
            payload = self._read_exact(n, deadline)
            if opcode == 0x9:  # ping → pong, stay in the read loop
                self.send(payload, opcode=0xA)
                continue
            if opcode == 0x8:
                try:
                    self.send(payload, opcode=0x8)  # echo close
                except OSError:
                    pass
                raise ConnectionError("websocket closed by server")
            if opcode == 0xA:  # unsolicited pong: keepalive noise
                continue
            return opcode, payload

    def send(self, payload: bytes, opcode: int = 0x1) -> None:
        self._sock.sendall(mask_frame(payload, opcode))

    def send_json(self, obj) -> None:
        self.send(json.dumps(obj).encode())

    def close(self) -> None:
        try:
            self.send(b"", opcode=0x8)
        except OSError:
            pass
        self._sock.close()

    def __enter__(self) -> "WsConnection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class NewHeadsSubscription:
    """``eth_subscribe("newHeads")`` over a WsConnection — the client
    twin of the reference's EthNewBlockHeadersSubscription.

    ``next_head(timeout=20)`` returns the next pushed block number;
    20 s of silence raises TimeoutError exactly like
    LiveSource.cs:75-83's completion-source timeout."""

    def __init__(self, conn: WsConnection, subscribe_timeout: float = 10.0) -> None:
        self.conn = conn
        conn.send_json(
            {"jsonrpc": "2.0", "id": 1, "method": "eth_subscribe", "params": ["newHeads"]}
        )
        # the subscription ack may interleave with early notifications
        self._queued: list[int] = []
        self.subscription_id: str | None = None
        deadline = time.monotonic() + subscribe_timeout
        while self.subscription_id is None:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("eth_subscribe acknowledgement timed out")
            msg = json.loads(self.conn.recv_frame(left)[1])
            if msg.get("id") == 1:
                if "error" in msg:
                    raise ConnectionError(f"eth_subscribe rejected: {msg['error']}")
                self.subscription_id = msg["result"]
            else:
                head = self._head_of(msg)
                if head is not None:
                    self._queued.append(head)

    @staticmethod
    def _head_of(msg) -> int | None:
        if msg.get("method") != "eth_subscription":
            return None
        number = msg.get("params", {}).get("result", {}).get("number")
        if number is None:
            return None
        return int(number, 16) if isinstance(number, str) else int(number)

    def next_head(self, timeout: float = 20.0) -> int:
        """Block until the next newHeads notification; TimeoutError
        after `timeout` seconds (the reference's 20 s stall check)."""
        if self._queued:
            return self._queued.pop(0)
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError(
                    f"Received no new block from the LiveSource for {timeout:g} sec."
                )
            try:
                head = self._head_of(json.loads(self.conn.recv_frame(left)[1]))
            except TimeoutError:
                raise TimeoutError(
                    f"Received no new block from the LiveSource for {timeout:g} sec."
                ) from None
            if head is not None:
                return head

    def close(self) -> None:
        self.conn.close()

    def __enter__(self) -> "NewHeadsSubscription":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
