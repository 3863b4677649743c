"""K1–K4 — sinks: Parquet append, console live-decode, Arrow-IPC WebSocket,
InfluxDB line protocol.

Reference inventory (SURVEY.md §2.4): row-group-batched Parquet append
(writeparquet.h:117-209, CACHE_ROWS=10000), live console printing of chosen
signals (main.cpp:132-144), one Arrow IPC buffer per 10k-row table pushed
over WebSocket (websocketIPC.h), and a dead InfluxDB v1 path.

Spark-first: Parquet is ``df.write``/``writeStream`` with
``maxRecordsPerFile`` standing in for the row-group cadence; the push sinks
are ``foreachBatch`` callables — per micro-batch, serialize via
``df.toArrow()`` (native Arrow IPC, no Python row loop) and write to the
socket.  The WebSocket client is a minimal RFC-6455 implementation on the
standard library so no extra packages are needed.
"""

from __future__ import annotations

import base64
import hashlib
import io
import os
import socket
import struct
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Mirrors the v2 flush cadence (#define CACHE_ROWS 10000,
#: /root/reference/src/main.cpp:55,152) as a file-size knob.
DEFAULT_MAX_RECORDS_PER_FILE = 10_000


# -- K1: parquet ------------------------------------------------------------

def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    partition_by: tuple[str, ...] = (),
) -> None:
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def stream_parquet_sink(df: DataFrame, path: str, checkpoint: str):
    """K1 streaming flavor — checkpointed, exactly-once file sink (the
    reference has no fault tolerance at all: a crash loses the open row
    group and the unclosed footer, /root/reference/src/main.cpp:60-61)."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="5 seconds")
        .start()
    )


# -- K2: console ------------------------------------------------------------

def _warn_unknown_signals(df: DataFrame, signals: list[str]) -> None:
    """Warn-and-continue for live-decode names missing from the decoded
    schema — the reference logs ``signal not found in schema_fields``
    and keeps going (/root/reference/src/decoder.cpp:117-119)."""
    unknown = [s for s in signals if s not in df.columns]
    if unknown:
        import warnings

        warnings.warn(
            f"signal not found in schema_fields: {', '.join(unknown)}",
            RuntimeWarning,
            stacklevel=3,
        )


def console_sink(df: DataFrame, signals: list[str], num_rows: int = 20) -> None:
    """Batch live-decode print of selected signals
    (--live-decode, /root/reference/src/main.cpp:132-144)."""
    _warn_unknown_signals(df, signals)
    cols = ["Time_ms"] + [s for s in signals if s in df.columns]
    df.select(*cols).show(num_rows, truncate=False)


def stream_console_sink(df: DataFrame, signals: list[str]):
    _warn_unknown_signals(df, signals)
    cols = [c for c in (["Time_ms"] + signals) if c in df.columns]
    return df.select(*cols).writeStream.format("console").outputMode("append").start()


# -- K3: Arrow IPC over WebSocket -------------------------------------------

def arrow_ipc_bytes(df: DataFrame) -> bytes:
    """Serialize a DataFrame to an Arrow IPC stream buffer —
    the Spark-native analog of SerializeTableToIpcBuffer
    (/root/reference/src/websocketIPC.h:21-61)."""
    import pyarrow as pa

    table = df.toArrow()
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


class MinimalWebSocketClient:
    """Just enough RFC 6455 to push binary messages (client → server).

    Mirrors the reference's one-buffer-per-table push to ``host:9000``
    (/root/reference/src/websocketIPC.h:63-113) without external deps.
    """

    def __init__(self, host: str, port: int = 9000, resource: str = "/"):
        self.host, self.port, self.resource = host, port, resource
        self.sock: socket.socket | None = None

    def connect(self) -> None:
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock = socket.create_connection((self.host, self.port), timeout=10)
        handshake = (
            f"GET {self.resource} HTTP/1.1\r\n"
            f"Host: {self.host}:{self.port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        self.sock.sendall(handshake.encode())
        resp = self.sock.recv(4096)
        if b"101" not in resp.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"WebSocket handshake failed: {resp[:200]!r}")
        accept = base64.b64encode(
            hashlib.sha1((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()).digest()
        ).decode()
        if accept.encode() not in resp:
            raise ConnectionError("WebSocket handshake: bad Sec-WebSocket-Accept")

    def send_binary(self, payload: bytes) -> None:
        if self.sock is None:
            self.connect()
        header = bytearray([0x82])  # FIN + binary opcode
        n = len(payload)
        if n < 126:
            header.append(0x80 | n)
        elif n < (1 << 16):
            header.append(0x80 | 126)
            header += struct.pack(">H", n)
        else:
            header.append(0x80 | 127)
            header += struct.pack(">Q", n)
        mask = os.urandom(4)
        header += mask
        # one big-integer XOR against the key repeated to the payload length
        key = (mask * (n // 4 + 1))[:n]
        masked = (int.from_bytes(payload, "big") ^ int.from_bytes(key, "big")).to_bytes(n, "big")
        self.sock.sendall(bytes(header) + masked)

    def close(self) -> None:
        if self.sock is not None:
            self.sock.close()
            self.sock = None


def websocket_ipc_sink(host: str, port: int = 9000) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable: push each micro-batch as one Arrow IPC
    WebSocket message (K3).  Unlike the reference — which aborts the whole
    program on a failed send (/root/reference/src/main.cpp:169-174) — a
    failure here fails only the batch, and checkpoint retry re-sends it."""

    def _send(batch_df: DataFrame, batch_id: int) -> None:
        client = MinimalWebSocketClient(host, port)
        try:
            client.send_binary(arrow_ipc_bytes(batch_df))
        finally:
            client.close()

    return _send


# -- K4: InfluxDB line protocol (legacy parity; reference path is dead code) -

def influx_lines(df: DataFrame, measurement: str, time_col: str = "Time_ms", tags: dict[str, str] | None = None) -> DataFrame:
    """Render rows as InfluxDB line protocol strings (pure Column algebra).

    v1-only sink in the reference, and dead there (``influxupload.h`` is
    a missing include, /root/reference/src/main.cpp.bak:44); provided for
    surface parity.
    """
    tag_str = "".join(f",{k}={v}" for k, v in (tags or {}).items())
    fields = [c for c in df.columns if c != time_col]
    parts = []
    for i, c in enumerate(fields):
        prefix = F.lit(("" if i == 0 else ",") + c + "=")
        parts.append(F.when(F.col(c).isNotNull(), F.concat(prefix, F.col(c).cast("string"))).otherwise(F.lit("")))
    line = F.concat(
        F.lit(measurement + tag_str + " "),
        *parts,
        F.lit(" "),
        (F.col(time_col).cast("double") * 1_000_000).cast("long").cast("string"),  # ms → ns
    )
    return df.select(line.alias("line"))
