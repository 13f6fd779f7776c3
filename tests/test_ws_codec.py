"""The shared RFC 6455 frame codec (sources/ws.py), pinned to the
RFC's own bytes rather than to its two ends agreeing with each other:
§5.7's single-frame "Hello" examples and the §5.2 extended payload
length headers. Plus §5.1 on real sockets: the server drops an
unmasked client frame, the client refuses a masked server frame.
"""

from __future__ import annotations

import io
import socket
import threading

import pytest

from blockchain_indexer_spark.sources.ws import (
    WsConnection,
    encode_frame,
    read_frame,
    ws_accept_key,
)

HELLO = bytes.fromhex("810548656c6c6f")
MASKED_HELLO = bytes.fromhex("818537fa213d7f9f4d5158")


def _decode(frame: bytes, masked: bool):
    return read_frame(io.BytesIO(frame).read, masked=masked)


def test_rfc_5_7_unmasked_hello():
    assert encode_frame(b"Hello") == HELLO
    assert _decode(HELLO, masked=False) == (0x1, b"Hello")


def test_rfc_5_7_masked_hello():
    assert encode_frame(b"Hello", mask=bytes.fromhex("37fa213d")) == MASKED_HELLO
    assert _decode(MASKED_HELLO, masked=True) == (0x1, b"Hello")


@pytest.mark.parametrize(
    "n, header",
    [
        (125, bytes.fromhex("827d")),
        (126, bytes.fromhex("827e007e")),
        (65535, bytes.fromhex("827effff")),
        (65536, bytes.fromhex("827f0000000000010000")),
    ],
)
def test_extended_payload_length_headers(n, header):
    payload = bytes(range(256)) * (n // 256) + bytes(n % 256)
    frame = encode_frame(payload, 0x2)
    assert frame == header + payload
    assert _decode(frame, masked=False) == (0x2, payload)
    masked = encode_frame(payload, 0x2, mask=b"\x01\x02\x03\x04")
    assert masked[:2] == bytes([header[0], header[1] | 0x80])
    assert _decode(masked, masked=True) == (0x2, payload)


def test_server_drops_unmasked_client_frame():
    from blockchain_indexer_spark.streaming.api import ApiHost, BroadcastLog

    host = ApiHost(BroadcastLog()).start()
    try:
        addr = host.address
        with WsConnection(f"ws://{addr[0]}:{addr[1]}/ws") as ws:
            ws._sock.sendall(encode_frame(b"bare", 0x9))  # a ping, unmasked
            # the session ends instead of answering the ping: EOF, or a
            # reset when the server closes on the unread payload
            with pytest.raises(ConnectionError):
                ws.next_frame(5)
    finally:
        host.stop()


def test_client_refuses_masked_server_frame():
    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]

    def masking_server():
        conn, _ = srv.accept()
        with conn:
            request = conn.recv(4096).decode()
            key = next(
                ln.split(":", 1)[1].strip()
                for ln in request.split("\r\n")
                if ln.lower().startswith("sec-websocket-key")
            )
            conn.sendall(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {ws_accept_key(key)}\r\n\r\n"
                ).encode()
                + MASKED_HELLO
            )
            conn.recv(4096)  # hold the socket open until the client leaves

    t = threading.Thread(target=masking_server, daemon=True)
    t.start()
    try:
        with WsConnection(f"ws://127.0.0.1:{port}/") as ws:
            with pytest.raises(ConnectionError, match="unmasked"):
                ws.recv_frame(5)
    finally:
        t.join(timeout=5)
        srv.close()
