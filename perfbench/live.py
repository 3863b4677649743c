"""Live workload: an open-loop TCP candump generator feeding
``stream_candump_socket`` -> ``streaming_decode`` ->
``streaming_bucket_downsample`` -> ``websocket_ipc_sink`` -> a minimal
RFC 6455 receiver, every received window checked against the reference.

The generator keeps its schedule whatever the stream does (a CAN bus does
not wait for its decoder): a warm-up, the fixed-rate phase whose windows
are the latency samples, a rate ramp, then a slow drain that keeps the
watermark moving until every expected window has arrived or the grace
period ends.
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import io
import random
import socket
import statistics
import struct
import threading
import time

import pyarrow as pa

import check
import gen
from harness import LATENCY_LIMIT_MS, Context, percentile_with_support

N_SIGNALS = 16
CACHE_MS = 10
WATERMARK = "1 second"
FIXED_HZ = 2000
WARMUP_S = 3.0
RAMP = (4000, 8000, 16000)
STEP_S = 1.5
DRAIN_HZ = 200
DRAIN_MAX_S = 30.0
GRACE_S = 12.0   # after the ramp, how long a window may still arrive
TICK_S = 0.002

_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


class Generator(threading.Thread):
    """Serves one TCP connection (the socket source connects to it) and
    writes candump lines on an open-loop schedule; ``lag`` records how
    late each tick ran."""

    def __init__(self, payloads, offsets, n_scheduled: int):
        super().__init__(daemon=True)
        self.server = socket.socket()
        self.server.bind(("127.0.0.1", 0))
        self.server.listen(1)
        self.port = self.server.getsockname()[1]
        self.payloads = payloads          # (can_id, hex payload, values)
        self.offsets = offsets            # scheduled send offsets (s)
        self.n_scheduled = n_scheduled    # frames before the drain phase
        self.sent: list[float] = []       # stamp (epoch s, when due) per sent frame
        self.sent_mono: list[float] = []  # monotonic send time per frame
        self.lag: list[float] = []        # per tick: seconds behind schedule
        self.go = threading.Event()
        self.halt = threading.Event()
        self.connected = threading.Event()
        self.error: BaseException | None = None
        self.t0 = self.epoch0 = 0.0

    def run(self) -> None:
        try:
            self.server.settimeout(120)
            conn, _ = self.server.accept()
            self.connected.set()
            with conn:
                self.go.wait()
                self._send(conn)
                self.halt.wait()
        except OSError as exc:  # reported by the workload, never raised
            if not self.halt.is_set():  # the source hangs up when the query stops
                self.error = exc
        finally:
            self.server.close()

    def _send(self, conn) -> None:
        # each frame is stamped with the time it was due, so a stalled
        # generator shows as latency, and its lateness is recorded apart
        self.epoch0 = time.time()
        self.t0 = time.perf_counter()
        idx, n = 0, len(self.offsets)
        while idx < n and not self.halt.is_set():
            now = time.perf_counter() - self.t0
            due = bisect.bisect_right(self.offsets, now, lo=idx)
            if due > idx:
                self.lag.append(now - self.offsets[idx])
                lines = []
                for k in range(idx, due):
                    can_id, payload, _ = self.payloads[k]
                    stamp = f"{self.epoch0 + self.offsets[k]:.6f}"
                    lines.append(f"({stamp}) can0 {can_id:03X}#{payload}\n")
                    self.sent.append(float(stamp))
                conn.sendall("".join(lines).encode())
                self.sent_mono.extend([time.perf_counter()] * (due - idx))
                idx = due
            time.sleep(TICK_S)


class Receiver(threading.Thread):
    """Minimal RFC 6455 server: accepts the sink's connections one at a
    time, completes the handshake and reads binary messages, each an Arrow
    IPC stream of emitted windows."""

    def __init__(self):
        super().__init__(daemon=True)
        self.server = socket.socket()
        self.server.bind(("127.0.0.1", 0))
        self.server.listen(4)
        self.server.settimeout(0.2)
        self.port = self.server.getsockname()[1]
        self.messages: list[tuple[float, int, list[dict]]] = []  # (epoch receive time, bytes, rows)
        self.latest = float("-inf")   # latest window start received
        self.halt = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            while not self.halt.is_set():
                try:
                    conn, _ = self.server.accept()
                except socket.timeout:
                    continue
                with conn:
                    conn.settimeout(30)
                    self._serve(conn)
        except BaseException as exc:
            self.error = exc
        finally:
            self.server.close()

    def _serve(self, conn) -> None:
        req = b""
        while b"\r\n\r\n" not in req:
            chunk = conn.recv(4096)
            if not chunk:
                return
            req += chunk
        key = next(line.split(b":", 1)[1].strip() for line in req.split(b"\r\n")
                   if line.lower().startswith(b"sec-websocket-key"))
        accept = base64.b64encode(hashlib.sha1(key + _GUID).digest())
        conn.sendall(b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                     b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n")
        while True:
            hdr = _read_exact(conn, 2)
            if hdr is None:
                return
            n = hdr[1] & 0x7F
            if n == 126:
                n = struct.unpack(">H", _read_exact(conn, 2))[0]
            elif n == 127:
                n = struct.unpack(">Q", _read_exact(conn, 8))[0]
            mask = _read_exact(conn, 4) if hdr[1] & 0x80 else b"\0\0\0\0"
            data = _read_exact(conn, n)
            if data is None:
                return
            if hdr[0] & 0x0F == 0x8:  # close
                return
            now = time.time()
            key4 = (mask * (n // 4 + 1))[:n]
            payload = (int.from_bytes(data, "big") ^ int.from_bytes(key4, "big")).to_bytes(n, "big")
            rows = pa.ipc.open_stream(io.BytesIO(payload)).read_all().to_pylist()
            self.messages.append((now, n, rows))
            self.latest = max([self.latest] + [r["Time_ms"] for r in rows])


def _read_exact(conn, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


class Live:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        rng = random.Random(ctx.seed)
        self.net = gen.make_network(random.Random(gen.NETWORK_SEED), N_SIGNALS)
        self.phases = [(FIXED_HZ, WARMUP_S), (FIXED_HZ, ctx.seconds)] + [(r, STEP_S) for r in RAMP]
        scheduled = gen.schedule(self.phases)
        end = len(scheduled) and scheduled[-1] + 1.0 / RAMP[-1]
        drain = [end + k / DRAIN_HZ for k in range(int(DRAIN_HZ * DRAIN_MAX_S))]
        self.offsets = scheduled + drain
        self.n_scheduled = len(scheduled)
        self.payloads = gen.live_payloads(rng, self.net, len(self.offsets))
        self.dbc_path = ctx.path("network.dbc")
        with open(self.dbc_path, "w") as fh:
            fh.write(self.net.dbc_text)
        # frame index where each phase starts (warm-up, fixed, ramp steps)
        self.bounds, k = [], 0
        for rate, secs in self.phases:
            self.bounds.append(k)
            k += int(rate * secs)
        self.bounds.append(k)
        self.spec = None

    def prepare(self) -> None:
        from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
        from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc

        t0 = time.perf_counter()
        self.spec = parse_dbc(self.dbc_path)
        self.compiler = DecodeCompiler(self.spec)
        self.ctx.tracer.values["dbc.parse_s"] = time.perf_counter() - t0

    def run(self, result) -> None:
        from dbc_informed_socketcan_to_parquet_spark.sinks import websocket_ipc_sink
        from dbc_informed_socketcan_to_parquet_spark.sources.candump import stream_candump_socket
        from dbc_informed_socketcan_to_parquet_spark.streaming.pipeline import (
            streaming_bucket_downsample,
            streaming_decode,
        )

        ctx = self.ctx
        generator = Generator(self.payloads, self.offsets, self.n_scheduled)
        receiver = Receiver()
        generator.start()
        receiver.start()
        sink = websocket_ipc_sink("127.0.0.1", receiver.port)
        send_ms: list[float] = []

        def timed_sink(df, batch_id):
            t0 = time.perf_counter()
            sink(df, batch_id)
            send_ms.append((time.perf_counter() - t0) * 1000.0)

        cols = [s.column_name for _, s in self.spec.all_signals()]
        frames = stream_candump_socket(ctx.spark, "127.0.0.1", generator.port)
        wide = streaming_decode(frames, self.compiler)
        out = streaming_bucket_downsample(wide, CACHE_MS, cols, watermark=WATERMARK)
        query = (out.writeStream.outputMode("append").foreachBatch(timed_sink)
                 .option("checkpointLocation", ctx.path("checkpoint")).start())
        progress = {}   # batch id -> StreamingQueryProgress
        backlog: list[tuple[float, int]] = []   # (monotonic time, sent - consumed)
        stream_error = None
        try:
            if not generator.connected.wait(60):
                raise RuntimeError("the socket source never connected to the generator")
            generator.go.set()
            ramp_end = None
            while True:
                time.sleep(0.25)
                for p in query.recentProgress:
                    progress[p.batchId] = p
                consumed = sum(p.numInputRows for p in progress.values())
                backlog.append((time.perf_counter(), len(generator.sent) - consumed))
                if query.exception() is not None or not query.isActive:
                    stream_error = query.exception()
                    break
                if ramp_end is None and len(generator.sent) >= self.n_scheduled:
                    ramp_end = time.perf_counter()
                if ramp_end is not None:
                    last = int(generator.sent[self.n_scheduled - 1] * 1000.0) // CACHE_MS * CACHE_MS
                    if time.perf_counter() - ramp_end > GRACE_S or receiver.latest >= last:
                        break
        except Exception as exc:
            stream_error = exc
        finally:
            generator.halt.set()
            try:
                query.stop()
            except Exception:
                pass
            receiver.halt.set()
            generator.join(10)
            receiver.join(10)
        if stream_error is not None:
            ctx.note(f"stream stopped: {str(stream_error)[:300]}")
        if generator.error is not None:
            ctx.note(f"generator: {generator.error!r}")
        if receiver.error is not None:
            ctx.note(f"receiver: {receiver.error!r}")

        self._score(result, generator, receiver, progress, backlog, send_ms)

    # the traced run is the same run: its only tracing is the clock reads
    # around the sink call, which both runs make
    run_traced = run

    # -- scoring -------------------------------------------------------------

    def _expected(self, generator):
        sent = generator.sent
        frames = [(sent[k], self.payloads[k][2]) for k in range(len(sent))]
        want, last_sent = check.expected_windows(frames, self.net.columns, CACHE_MS)
        # windows holding a scheduled (non-drain) frame are the operations
        owner = {}
        for k in range(min(len(sent), self.n_scheduled)):
            w = int(sent[k] * 1000.0) // CACHE_MS * CACHE_MS
            owner[w] = self._phase(k)
        return want, last_sent, owner

    def _phase(self, k: int) -> int:
        return bisect.bisect_right(self.bounds, k) - 1

    def _score(self, result, generator, receiver, progress, backlog, send_ms) -> None:
        ctx, v = self.ctx, self.ctx.tracer.values
        want, last_sent, owner = self._expected(generator)
        got: dict[int, tuple[float, dict]] = {}
        dup = 0
        nbytes = 0
        for recv_t, size, rows in receiver.messages:
            nbytes += size
            for row in rows:
                w = int(round(row["Time_ms"]))
                if w in got:
                    dup += 1
                got[w] = (recv_t, row)
        result.attempted += len(owner)
        latency: dict[int, list[float]] = {}
        missing = wrong = 0
        for w, phase in owner.items():
            if w not in got:
                missing += 1
                result.fail(f"window {w} missing")
                continue
            recv_t, row = got[w]
            if not check.check_window(row, want[w], self.net.columns, self.net.kinds):
                wrong += 1
                result.fail(f"window {w} wrong: {row} != {want[w]}")
                continue
            latency.setdefault(phase, []).append((recv_t - last_sent[w]) * 1000.0)
        if dup:
            result.fail(f"{dup} windows emitted twice")
        ctx.note(f"live: {len(owner)} windows expected, {missing} missing, {wrong} wrong, "
                 f"{len(generator.sent)} frames sent, {len(progress)} batches")

        fixed = latency.get(1, [])
        if fixed:
            q, p99 = percentile_with_support(fixed, 0.99)
            result.metrics["latency_p50_ms"] = statistics.median(fixed)
            result.metrics["latency_p99_ms"] = p99
            ctx.note(f"latency over {len(fixed)} windows at {FIXED_HZ}/s: "
                     f"p50 {statistics.median(fixed):.0f} ms, p{round(q * 100)} {p99:.0f} ms")

        # sustained rate: the highest step (the fixed phase or a ramp step)
        # whose windows all arrived within the latency limit and whose
        # end-of-step backlog could drain within the limit at that rate
        sustained = 0.0
        for phase in range(1, len(self.phases)):
            rate = self.phases[phase][0]
            lo, hi = self.bounds[phase], self.bounds[phase + 1]
            n_windows = sum(1 for p in owner.values() if p == phase)
            lat = latency.get(phase, [])
            if hi > len(generator.sent) or not lat or len(lat) < n_windows:
                ctx.note(f"step {rate}/s not sustained: windows missing or wrong")
                continue
            _, p99 = percentile_with_support(lat, 0.99)
            step_end = generator.sent_mono[hi - 1]
            after = [b for t, b in backlog if t >= step_end]
            if p99 > LATENCY_LIMIT_MS or (after and after[0] > rate * LATENCY_LIMIT_MS / 1000.0):
                ctx.note(f"step {rate}/s not sustained: p99 {p99:.0f} ms, backlog {after[:1]}")
                continue
            span = generator.sent_mono[hi - 1] - generator.sent_mono[lo]
            sustained = (hi - lo - 1) / span if span > 0 else float(rate)
            ctx.note(f"step {rate}/s sustained: p99 {p99:.0f} ms, achieved {sustained:.0f}/s")
        result.metrics["throughput_per_s"] = sustained

        # per-layer figures
        durations = [p.durationMs.get("triggerExecution", 0) for p in progress.values()]
        v["streaming.batches"] = len(progress)
        v["streaming.batch_ms_p50"] = statistics.median(durations) if durations else 0.0
        states = [op for p in progress.values() for op in p.stateOperators]
        v["streaming.state_rows"] = max((op.numRowsTotal for op in states), default=0)
        v["streaming.state_bytes"] = max((op.memoryUsedBytes for op in states), default=0)
        fixed_end = generator.sent_mono[self.bounds[2] - 1] if len(generator.sent) >= self.bounds[2] else 0
        v["streaming.backlog_rows"] = max((b for t, b in backlog if t <= fixed_end), default=0)
        v["sinks.websocket.send_ms"] = statistics.median(send_ms) if send_ms else 0.0
        v["sinks.websocket.bytes"] = nbytes
        v["live.generator_lag_ms"] = max(generator.lag, default=0.0) * 1000.0
        v["live.sustained_fps"] = sustained
