"""API host (streaming/api.py): /health verdicts and the cursor-based
/events push channel, wired to a real ingest batch via on_imported —
the serving twin of the reference's HealthService + websocket
broadcast (Api/TransactionHashBroadcastService.cs:41-57).
"""

from __future__ import annotations

import base64
import json
import os
import socket
import time
import urllib.request

import pytest

from blockchain_indexer_spark.sources.ws import (
    SocketReader,
    WsConnection,
    encode_frame,
    read_frame,
)
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


def _ws(h, path="/ws"):
    return WsConnection(f"ws://{h.address[0]}:{h.address[1]}{path}")


def _ping(payload: bytes) -> bytes:
    """One masked client ping, as a client puts it on the wire."""
    return encode_frame(payload, 0x9, mask=os.urandom(4))


@pytest.mark.slowe2e
def test_websocket_push_hashes_and_reorg_magic(host):
    """K5 over a real RFC 6455 socket: published batches arrive as
    pushed JSON text frames without the client asking, and a reorg
    arrives as the deadbeef magic — the reference's
    TransactionHashBroadcastService contract."""
    h, log = host
    log.publish(["0xold"])  # before connect: not replayed by default
    with _ws(h) as ws:
        log.publish(["0xaa", "0xbb"])
        opcode, payload = ws.recv_frame(10)
        assert opcode == 0x1
        msg = json.loads(payload)
        assert msg["hashes"] == ["0xaa", "0xbb"]
        log.publish([REORG_MAGIC_HASH])
        _, payload2 = ws.recv_frame(10)
        assert json.loads(payload2)["hashes"] == [REORG_MAGIC_HASH]


def test_websocket_cursor_replay_ping_and_close(host):
    h, log = host
    log.publish(["0x1"])
    log.publish(["0x2"])
    with _ws(h, "/ws?cursor=0") as ws:
        # cursor=0 replays the ring (beyond the reference's
        # fire-and-forget — same resume semantics as /events)
        assert json.loads(ws.recv_frame(10)[1])["hashes"] == ["0x1"]
        assert json.loads(ws.recv_frame(10)[1])["hashes"] == ["0x2"]
        ws.send(b"are-you-there", opcode=0x9)  # ping
        assert ws.next_frame(10) == (0xA, b"are-you-there")
        ws.send(b"", opcode=0x8)  # close → echoed, then EOF
        assert ws.next_frame(10)[0] == 0x8
        with pytest.raises(ConnectionError, match="closed"):
            ws.next_frame(10)


def test_websocket_ping_pipelined_behind_upgrade(host):
    """A ping sent in the same TCP segment as the upgrade request sits
    in the server's user-space HTTP buffer, invisible to select() —
    the frame loop must still answer it promptly (ADVICE r3)."""
    h, _log = host
    sock = socket.create_connection(h.address, timeout=5)
    try:
        key = base64.b64encode(os.urandom(16)).decode()
        sock.sendall(
            (
                "GET /ws HTTP/1.1\r\nHost: x\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
            + _ping(b"early")
        )
        reader = SocketReader(sock)
        head = b""
        while not head.endswith(b"\r\n\r\n"):
            head += reader.read(1, time.monotonic() + 5)
        assert b" 101 " in head
        deadline = time.monotonic() + 5
        frame = read_frame(lambda n: reader.read(n, deadline), masked=False)
        assert frame == (0xA, b"early")
    finally:
        sock.close()


def test_websocket_two_frames_one_segment(host):
    """Two frames in one segment: the second is already drained into a
    buffer when the first is read — both must be handled without the
    client sending more bytes."""
    h, _log = host
    with _ws(h) as ws:
        ws._sock.sendall(_ping(b"p1") + _ping(b"p2"))
        assert ws.next_frame(5) == (0xA, b"p1")
        assert ws.next_frame(5) == (0xA, b"p2")
        # a close pipelined behind a ping ends the session cleanly
        ws._sock.sendall(_ping(b"p3") + encode_frame(b"", 0x8, mask=os.urandom(4)))
        assert ws.next_frame(5) == (0xA, b"p3")
        assert ws.next_frame(5)[0] == 0x8
        with pytest.raises(ConnectionError, match="closed"):
            ws.next_frame(5)


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
