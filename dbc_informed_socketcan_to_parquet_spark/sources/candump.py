"""S1/S2/S3 — candump-format sources (batch file, directory stream, socket).

Reference sources (SURVEY.md §2.1): a candump log file (fileInput.cpp), a
live SocketCAN socket (socketInput.cpp), and stdin fed by ``nc`` (stdinInput
.cpp) — all yielding (frame, Δms-since-start).  Spark-first equivalents:

- batch file  → ``spark.read.text`` + parse projection (splittable, scales
  to any number of log files / partitions),
- live tail   → ``readStream.format("text")`` on a landing directory (the
  idiomatic "file tailing" source; a ``candump -l``-into-directory bridge
  is the operational analog of the reference's socket loop),
- raw socket  → ``readStream.format("socket")`` — the direct analog of the
  reference's ``nc -l 9000 | decoder --stdin`` path.

Timestamp normalization (T2): the reference subtracts the FIRST line's
epoch from every later line (fileInput.cpp:16-31).  "First" is an
order-dependent notion that a distributed scan should not depend on; we use
``min(ts)`` — identical for time-sorted logs (the normal case) — and keep
the divergence documented.  ``--no-adjust-timestamp`` ⇒ ``mode="none"``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.candump import parse_candump_lines
from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import double, ident


def read_candump(spark: SparkSession, path: str, adjust_timestamp: bool = True) -> DataFrame:
    """Batch-read candump log file(s) into a frames DataFrame
    (``ts double [epoch s], iface, can_id, data``; plus ``Time_ms`` when
    ``adjust_timestamp`` — ms since capture start)."""
    frames = parse_candump_lines(spark.read.text(path))
    return normalize_time(frames, mode="min" if adjust_timestamp else "none")


def normalize_time(frames: DataFrame, mode: str = "min", time_col: str = "ts") -> DataFrame:
    """T2: epoch-seconds → milliseconds-since-start (``Time_ms``).

    ``mode="min"``  — subtract min(ts) (scan-order-independent);
    ``mode="none"`` — keep absolute epoch, Time_ms = ts*1000
    (``--no-adjust-timestamp``, /root/reference/src/arguments.h:93-96).

    ``mode="min"`` keeps its own ``min(ts)`` scan of the input on purpose,
    so a conversion scans the log twice: once for this minimum, once for
    the data.  The reference subtracts the FIRST line's stamp instead
    (fileInput.cpp:16-31); that would need no aggregate, but it differs
    from ``min(ts)`` whenever the log is not time-sorted, so switching
    would change the output.  Left as is.
    """
    t = ident(time_col)
    if mode == "none":
        return frames.withColumn("Time_ms", F.expr(f"({t} * {double(1000.0)})"))
    if mode == "min":
        # lazy broadcast scalar: the 1-row min aggregate joins in as a
        # broadcast stage of the SAME action — no eager .first() pass on
        # the driver before the decode job is even built
        t0 = frames.agg(F.expr(f"min({t}) AS `_t0`"))
        return (
            frames.crossJoin(F.broadcast(t0))
            .withColumn("Time_ms", F.expr(f"(({t} - `_t0`) * {double(1000.0)})"))
            .drop("_t0")
        )
    raise ValueError(f"unknown normalize mode {mode!r}")


def stream_candump_dir(
    spark: SparkSession, directory: str, observe_funnel: bool = False
) -> DataFrame:
    """Streaming flavor of S1: watch a directory for candump log files.

    ``observe_funnel`` lands CollectMetrics on the raw lines and the
    parsed frames (``funnel_lines`` / ``funnel_parse``) so the silent
    malformed-line loss is countable per micro-batch
    (streaming/pipeline.decode_stream_funnel)."""
    lines = spark.readStream.format("text").load(directory)
    if observe_funnel:
        lines = lines.observe("funnel_lines", F.count(F.lit(1)).alias("rows"))
    frames = parse_candump_lines(lines)
    if observe_funnel:
        frames = frames.observe("funnel_parse", F.count(F.lit(1)).alias("rows"))
    return frames


def stream_candump_socket(
    spark: SparkSession, host: str = "localhost", port: int = 9000
) -> DataFrame:
    """S3 as a stream: candump lines over a TCP socket (the ``nc`` path).

    Event time comes from the line's own epoch field, never from arrival
    (the reference stamps frames with the system clock on receipt,
    ``main.cpp.bak:200``).
    """
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return parse_candump_lines(lines)
