"""K3 live test: push a DataFrame through the Arrow-IPC WebSocket sink to a
minimal RFC-6455 server thread and decode what arrives."""

from __future__ import annotations

import base64
import hashlib
import io
import socket
import struct
import threading

import pyarrow as pa

from dbc_informed_socketcan_to_parquet_spark.sinks import MinimalWebSocketClient, websocket_ipc_sink

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


class _MiniServer(threading.Thread):
    """Accept one WS client, complete the handshake, read ``frames``
    binary frames."""

    def __init__(self, frames: int = 1):
        super().__init__(daemon=True)
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.frames = frames
        self.payloads: list[bytes] = []
        self.ready = threading.Event()

    @property
    def payload(self) -> bytes | None:
        return self.payloads[0] if self.payloads else None

    def run(self):
        conn, _ = self.sock.accept()
        req = b""
        while b"\r\n\r\n" not in req:
            req += conn.recv(4096)
        key = next(l.split(b": ", 1)[1] for l in req.split(b"\r\n") if l.lower().startswith(b"sec-websocket-key"))
        accept = base64.b64encode(hashlib.sha1(key + _GUID.encode()).digest()).decode()
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}\r\n\r\n"
            ).encode()
        )

        def read_exact(n: int) -> bytes:
            buf = b""
            while len(buf) < n:
                buf += conn.recv(n - len(buf))
            return buf

        for _ in range(self.frames):
            hdr = read_exact(2)
            ln = hdr[1] & 0x7F
            if ln == 126:
                ln = struct.unpack(">H", read_exact(2))[0]
            elif ln == 127:
                ln = struct.unpack(">Q", read_exact(8))[0]
            mask = read_exact(4)
            data = read_exact(ln)
            self.payloads.append(bytes(b ^ mask[i % 4] for i, b in enumerate(data)))
        conn.close()
        self.ready.set()


def test_websocket_sink_delivers_arrow_ipc(spark):
    server = _MiniServer()
    server.start()
    df = spark.createDataFrame([(0.0, 400.0), (10.0, 401.5)], "Time_ms double, EngSpeed double")
    sink = websocket_ipc_sink("127.0.0.1", server.port)
    sink(df, batch_id=0)

    assert server.ready.wait(timeout=15), "server never received the frame"
    table = pa.ipc.open_stream(io.BytesIO(server.payload)).read_all()
    assert table.column_names == ["Time_ms", "EngSpeed"]
    assert table.num_rows == 2
    assert table.column("EngSpeed").to_pylist() == [400.0, 401.5]


def test_websocket_client_masks_every_length_header():
    """Payloads on both sides of the 7-bit, 16-bit and 64-bit length
    headers (RFC 6455 §5.2) arrive unmasked byte for byte."""
    sizes = [0, 125, 126, 65_535, 65_536]
    server = _MiniServer(frames=len(sizes))
    server.start()
    client = MinimalWebSocketClient("127.0.0.1", server.port)
    sent = [bytes((7 * i + n) % 256 for i in range(n)) for n in sizes]
    for payload in sent:
        client.send_binary(payload)
    assert server.ready.wait(timeout=15), "server never received every frame"
    client.close()
    assert server.payloads == sent
