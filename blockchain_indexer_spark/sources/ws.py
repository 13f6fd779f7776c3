"""RFC 6455 websocket: the one frame codec, plus the client-side
``eth_subscribe("newHeads")`` push half of the reference's live mode
(`Sources/LiveSource.cs:21-130`: StreamingWebSocketClient +
EthNewBlockHeadersSubscription, 20 s stall timeout at lines 75-83).

Stdlib-only (plain ws:// URLs; RFC 6455 needs only sha1/base64/struct
+ os.urandom for the §5.3 masking key). The codec below is shared by
both ends: ``ws_accept_key`` (§1.3), ``encode_frame`` (§5.2, masked
when given a key), ``read_frame`` and ``SocketReader``. The server
(``streaming.api``'s `/ws`) reads masked client frames and writes
unmasked ones; the client here does the reverse (§5.1 — each side
fails a frame masked the wrong way). Ping, pong and close policy stays
with each side.

The client's transport contract mirrors the reference exactly:

- subscribe once, then each pushed header is surfaced through
  ``next_head(timeout)``;
- a 20 s silence raises ``TimeoutError`` (LiveSource.cs:83 sets a
  TimeoutException on the completion source);
- pings are answered with pongs transparently; a server close ends
  the subscription (`WebSocketStreamingErrorEventHandler` path).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import select
import socket
import struct
import time
from urllib.parse import urlparse

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


def ws_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a client's Sec-WebSocket-Key."""
    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def _xor(payload: bytes, mask: bytes) -> bytes:
    return bytes(b ^ mask[i % 4] for i, b in enumerate(payload))


def encode_frame(payload: bytes, opcode: int = 0x1, mask: bytes | None = None) -> bytes:
    """One frame, FIN set (§5.2); `mask`, a 4-byte key, masks it as
    every client→server frame must be (§5.3)."""
    n, bit = len(payload), 0x80 if mask is not None else 0
    if n < 126:
        head = struct.pack(">BB", 0x80 | opcode, bit | n)
    elif n < 1 << 16:
        head = struct.pack(">BBH", 0x80 | opcode, bit | 126, n)
    else:
        head = struct.pack(">BBQ", 0x80 | opcode, bit | 127, n)
    if mask is None:
        return head + payload
    return head + mask + _xor(payload, mask)


def read_frame(read, masked: bool) -> tuple[int, bytes]:
    """One frame as (opcode, unmasked payload), read through
    `read(n)`, which returns exactly n bytes or raises. `masked` says
    whether the peer must mask (a server reads client frames, True; a
    client reads server frames, False); a frame masked the other way
    raises ConnectionError (§5.1)."""
    head = read(2)
    if bool(head[1] & 0x80) != masked:
        rule = "client frames must be masked" if masked else "server frames must be unmasked"
        raise ConnectionError(f"{rule} (§5.1)")
    opcode, n = head[0] & 0x0F, head[1] & 0x7F
    if n == 126:
        n = struct.unpack(">H", read(2))[0]
    elif n == 127:
        n = struct.unpack(">Q", read(8))[0]
    if not masked:
        return opcode, read(n)
    mask = read(4)
    return opcode, _xor(read(n), mask)


class SocketReader:
    """Unbuffered exact reads over a socket, seeded with bytes already
    read past the HTTP upgrade. select() on the raw socket cannot see
    bytes sitting in a user-space buffer, so a close or ping pipelined
    behind the handshake (or a second frame behind a first) would
    strand until unrelated new bytes arrived; reading through recv
    keeps kernel-buffered bytes select()-visible, and `buffered`
    reports the one remaining user-space stash."""

    def __init__(self, sock: socket.socket, pending: bytes = b"") -> None:
        self._sock = sock
        self._pending = pending

    @property
    def buffered(self) -> bool:
        return bool(self._pending)

    def read(self, n: int, deadline: float | None = None) -> bytes:
        """Exactly n bytes. ConnectionError on EOF; TimeoutError once
        the `deadline` (time.monotonic()) passes with bytes missing."""
        out = self._pending[:n]
        self._pending = self._pending[n:]
        while len(out) < n:
            if deadline is not None:
                left = deadline - time.monotonic()
                if left <= 0 or not select.select([self._sock], [], [], left)[0]:
                    raise TimeoutError("websocket read timed out")
            chunk = self._sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("websocket connection closed")
            out += chunk
        return out


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
        try:
            rest = self._upgrade(f"{host}:{port}", path)
        except BaseException:
            # a refused or broken handshake must not leak the socket: no
            # caller holds a WsConnection to close
            self._sock.close()
            raise
        self._reader = SocketReader(self._sock, rest)

    def _upgrade(self, host: str, path: str) -> bytes:
        """Send the upgrade request and check the 101; returns the bytes
        the server sent right behind it (frames for the reader)."""
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: {host}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        self._sock.sendall(req.encode())
        head = b""
        while b"\r\n\r\n" not in head:
            chunk = self._sock.recv(4096)
            if not chunk:
                raise ConnectionError("websocket handshake: connection closed")
            head += chunk
            if len(head) > 1 << 16:
                raise ConnectionError("websocket handshake: oversized response")
        head, _, rest = head.partition(b"\r\n\r\n")
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
        return rest

    # -- frame I/O ----------------------------------------------------
    def next_frame(self, timeout: float) -> tuple[int, bytes]:
        """The next server→client frame (opcode, payload), whatever its
        opcode. TimeoutError after `timeout` seconds without one,
        ConnectionError on EOF or a masked frame."""
        deadline = time.monotonic() + timeout
        return read_frame(lambda n: self._reader.read(n, deadline), masked=False)

    def recv_frame(self, timeout: float) -> tuple[int, bytes]:
        """The next data frame (opcode, payload); pings are answered
        and pongs skipped. Raises TimeoutError after `timeout` seconds
        of silence, ConnectionError on EOF/close."""
        deadline = time.monotonic() + timeout
        while True:
            opcode, payload = self.next_frame(deadline - time.monotonic())
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
        self._sock.sendall(encode_frame(payload, opcode, mask=os.urandom(4)))

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
