"""API host (streaming/api.py): /health verdicts and the cursor-based
/events push channel, wired to a real ingest batch via on_imported —
the serving twin of the reference's HealthService + websocket
broadcast (Api/TransactionHashBroadcastService.cs:41-57).
"""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from blockchain_indexer_spark.streaming.api import ApiHost, BroadcastLog
from blockchain_indexer_spark.streaming.runner import REORG_MAGIC_HASH


@pytest.fixture()
def host():
    log = BroadcastLog()
    h = ApiHost(log).start()
    yield h, log
    h.stop()


def _get(h, path):
    addr = h.address
    with urllib.request.urlopen(f"http://{addr[0]}:{addr[1]}{path}") as r:
        return r.status, json.loads(r.read())


def test_health_unhealthy_before_first_batch_then_healthy(host):
    h, log = host
    try:
        _get(h, "/health")
        raise AssertionError("expected 503")
    except urllib.error.HTTPError as e:
        assert e.code == 503
        assert json.loads(e.read())["healthy"] is False
    log.publish(["0xaa"])
    code, body = _get(h, "/health")
    assert code == 200 and body["healthy"] is True
    assert body["last_batch_age_s"] is not None


def test_events_cursor_and_reorg_magic(host):
    h, log = host
    log.publish(["0xaa", "0xbb"])
    log.publish([REORG_MAGIC_HASH])
    code, body = _get(h, "/events?cursor=0&timeout=1")
    assert code == 200
    assert [e["hashes"] for e in body["events"]] == [["0xaa", "0xbb"], [REORG_MAGIC_HASH]]
    cursor = body["next_cursor"]
    # no new events: the long-poll returns empty after the timeout
    t0 = time.time()
    _, body2 = _get(h, f"/events?cursor={cursor}&timeout=1")
    assert body2["events"] == [] and body2["next_cursor"] == cursor
    assert time.time() - t0 >= 0.9
    # a publish wakes a waiting poller
    log.publish(["0xcc"])
    _, body3 = _get(h, f"/events?cursor={cursor}&timeout=5")
    assert [e["hashes"] for e in body3["events"]] == [["0xcc"]]


def test_ring_capacity_drops_oldest():
    log = BroadcastLog(capacity=2)
    for i in range(5):
        log.publish([f"0x{i}"])
    events = log.read(0, timeout=0)
    assert [h for _, hs in events for h in hs] == ["0x3", "0x4"]
    assert events[0][0] == 3  # sequence numbers survive the drop


@pytest.mark.slowe2e
def test_api_host_serves_real_ingest(spark, tmp_path, host):
    from blockchain_indexer_spark.streaming.runner import IngestPipeline
    from tests.test_streaming import _feed_rows

    h, log = host
    feed = _feed_rows(spark)
    pipe = IngestPipeline(spark, str(tmp_path / "final"), on_imported=log.publish)
    pipe.process_batch(feed)
    code, body = _get(h, "/events?cursor=0&timeout=1")
    announced = {x for e in body["events"] for x in e["hashes"]}
    expected = {r["hash"] for r in feed.filter("hash is not null").select("hash").collect()}
    assert announced == expected
    assert _get(h, "/health")[1]["healthy"] is True


def test_health_fn_exception_is_503_not_reset():
    import json as _json
    from urllib.request import urlopen
    from urllib.error import HTTPError

    from blockchain_indexer_spark.streaming.api import ApiHost, BroadcastLog

    log = BroadcastLog()
    log.touch()

    def bad_health():
        raise RuntimeError("probe query failed")

    host = ApiHost(log, health_fn=bad_health).start()
    try:
        addr = host.address
        try:
            urlopen(f"http://{addr[0]}:{addr[1]}/health", timeout=10)
            raise AssertionError("expected 503")
        except HTTPError as e:
            assert e.code == 503
            assert _json.loads(e.read())["healthy"] is False
    finally:
        host.stop()


def test_events_rejects_nan_timeout():
    from urllib.request import urlopen
    from urllib.error import HTTPError

    from blockchain_indexer_spark.streaming.api import ApiHost, BroadcastLog

    host = ApiHost(BroadcastLog()).start()
    try:
        addr = host.address
        try:
            urlopen(f"http://{addr[0]}:{addr[1]}/events?cursor=0&timeout=nan", timeout=10)
            raise AssertionError("expected 400")
        except HTTPError as e:
            assert e.code == 400
    finally:
        host.stop()


class _WsClient:
    """Minimal RFC 6455 client (stdlib): handshake, masked sends,
    frame reads — enough to consume the K5 broadcast like the
    reference's websocket subscribers."""

    def __init__(self, addr, path="/ws", pipelined: bytes = b""):
        import base64
        import os as _os
        import socket

        self.sock = socket.create_connection(addr, timeout=10)
        key = base64.b64encode(_os.urandom(16)).decode()
        req = (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: {addr[0]}:{addr[1]}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        # `pipelined`: raw websocket frames sent in the SAME segment as
        # the upgrade request — they land in the server's HTTP
        # BufferedReader before the frame loop starts (ADVICE r3).
        self.sock.sendall(req.encode() + pipelined)
        self.rfile = self.sock.makefile("rb")
        status = self.rfile.readline().decode()
        assert " 101 " in status, status
        self.headers = {}
        while True:
            line = self.rfile.readline().decode().strip()
            if not line:
                break
            k, _, v = line.partition(":")
            self.headers[k.strip().lower()] = v.strip()
        from blockchain_indexer_spark.streaming.api import ws_accept_key

        assert self.headers["sec-websocket-accept"] == ws_accept_key(key)

    def send(self, payload: bytes, opcode: int = 0x1) -> None:
        import os as _os
        import struct

        mask = _os.urandom(4)
        n = len(payload)
        head = bytes([0x80 | opcode])
        if n < 126:
            head += bytes([0x80 | n])
        else:
            head += bytes([0x80 | 126]) + struct.pack(">H", n)
        body = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        self.sock.sendall(head + mask + body)

    def recv(self):
        import struct

        head = self.rfile.read(2)
        if len(head) < 2:
            return None
        opcode = head[0] & 0x0F
        n = head[1] & 0x7F
        if n == 126:
            n = struct.unpack(">H", self.rfile.read(2))[0]
        elif n == 127:
            n = struct.unpack(">Q", self.rfile.read(8))[0]
        assert not (head[1] & 0x80), "server frames must be unmasked"
        return opcode, self.rfile.read(n)

    def close(self):
        self.sock.close()


@pytest.mark.slowe2e
def test_websocket_push_hashes_and_reorg_magic(host):
    """K5 over a real RFC 6455 socket: published batches arrive as
    pushed JSON text frames without the client asking, and a reorg
    arrives as the deadbeef magic — the reference's
    TransactionHashBroadcastService contract."""
    h, log = host
    log.publish(["0xold"])  # before connect: not replayed by default
    ws = _WsClient(h.address)
    try:
        log.publish(["0xaa", "0xbb"])
        opcode, payload = ws.recv()
        assert opcode == 0x1
        msg = json.loads(payload)
        assert msg["hashes"] == ["0xaa", "0xbb"]
        log.publish([REORG_MAGIC_HASH])
        _, payload2 = ws.recv()
        assert json.loads(payload2)["hashes"] == [REORG_MAGIC_HASH]
    finally:
        ws.close()


def test_websocket_cursor_replay_ping_and_close(host):
    h, log = host
    log.publish(["0x1"])
    log.publish(["0x2"])
    ws = _WsClient(h.address, path="/ws?cursor=0")
    try:
        # cursor=0 replays the ring (beyond the reference's
        # fire-and-forget — same resume semantics as /events)
        assert json.loads(ws.recv()[1])["hashes"] == ["0x1"]
        assert json.loads(ws.recv()[1])["hashes"] == ["0x2"]
        ws.send(b"are-you-there", opcode=0x9)  # ping
        opcode, payload = ws.recv()
        assert (opcode, payload) == (0xA, b"are-you-there")
        ws.send(b"", opcode=0x8)  # close → echoed, then EOF
        assert ws.recv()[0] == 0x8
        assert ws.rfile.read(1) == b""
    finally:
        ws.close()


def _masked_frame(payload: bytes, opcode: int) -> bytes:
    import os as _os

    mask = _os.urandom(4)
    head = bytes([0x80 | opcode, 0x80 | len(payload)])
    return head + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload))


def test_websocket_ping_pipelined_behind_upgrade(host):
    """A ping sent in the same TCP segment as the upgrade request sits
    in the server's user-space HTTP buffer, invisible to select() —
    the frame loop must still answer it promptly (ADVICE r3)."""
    h, _log = host
    ws = _WsClient(h.address, pipelined=_masked_frame(b"early", 0x9))
    try:
        ws.sock.settimeout(5)
        opcode, payload = ws.recv()
        assert (opcode, payload) == (0xA, b"early")
    finally:
        ws.close()


def test_websocket_two_frames_one_segment(host):
    """Two frames in one segment: the second is already drained into a
    buffer when the first is read — both must be handled without the
    client sending more bytes."""
    h, _log = host
    ws = _WsClient(h.address)
    try:
        ws.sock.settimeout(5)
        ws.sock.sendall(
            _masked_frame(b"p1", 0x9) + _masked_frame(b"p2", 0x9)
        )
        assert ws.recv() == (0xA, b"p1")
        assert ws.recv() == (0xA, b"p2")
        # a close pipelined behind a ping ends the session cleanly
        ws.sock.sendall(_masked_frame(b"p3", 0x9) + _masked_frame(b"", 0x8))
        assert ws.recv() == (0xA, b"p3")
        assert ws.recv()[0] == 0x8
        assert ws.rfile.read(1) == b""
    finally:
        ws.close()


def test_websocket_requires_upgrade_header(host):
    h, _ = host
    try:
        _get(h, "/ws")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_touch_keeps_health_fresh_without_events():
    """An imported empty-block batch heartbeats via touch(): health
    stays fresh, but no long-poll consumer is woken."""
    from blockchain_indexer_spark.streaming.api import BroadcastLog

    log = BroadcastLog()
    assert log.last_batch_at is None
    log.touch()
    assert log.last_batch_at is not None
    assert log.read(0, timeout=0.1) == []  # no event appended
