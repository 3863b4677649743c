"""M4 — Structured Streaming parity for the live paths (S2/S3 → A1/A2 → K*).

The reference's live mode is a blocking read loop with processing-time
stamps and zero fault tolerance (/root/reference/src/main.cpp:122-179,
socketInput.cpp:45-52).  The streaming engine equivalents:

- micro-batch scheduler replaces the hand loop,
- event-time tumbling ``window()`` + watermark replaces the drift-prone
  in-loop bucket close — and *defines* late/out-of-order behavior, which
  the reference silently corrupts (unchecked SetValueAt,
  /root/reference/src/writeparquet.h:70-75; SURVEY §2.6),
- checkpointed sinks give exactly-once parquet output.

Aggregation note: per-window "last value" must be *event-time*-defined,
not arrival-order-defined, to be deterministic across micro-batch
boundaries (``last(col, ignorenulls=True)`` depends on which batch a row
lands in).  Each signal aggregates as ``max(struct(event_time, value))``
over non-null values — struct max orders by event time first, so the
pick is the latest-timestamped non-null value regardless of arrival
order, with ties broken by value (also deterministic).  This matches the
batch path's ``max_by(value, ts)`` semantics (operators/bucket.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import ident
from dbc_informed_socketcan_to_parquet_spark.sinks import stream_console_sink, stream_parquet_sink
from dbc_informed_socketcan_to_parquet_spark.sources.candump import stream_candump_socket


#: observe() metric names for the decode lane, pipeline order —
#: raw lines, parse survivors, known-id survivors
DECODE_FUNNEL_ORDER = ("funnel_lines", "funnel_parse", "funnel_known_id")


def decode_stream_funnel(query) -> list[dict]:
    """Drop funnel for a decode stream read with
    ``sources.candump.stream_candump_dir(observe_funnel=True)``, whose
    known-id survivors the caller observes as ``funnel_known_id`` — the
    streaming twin of ``plans/pipeline.decode_audit``: per-micro-batch
    CollectMetrics on the one plan count the malformed-line and
    unknown-id losses the reference discards silently.  Same folding
    (and the same bounded ``recentProgress`` window caveat) as
    ``streaming/curate.streaming_funnel``."""
    from dbc_informed_socketcan_to_parquet_spark.streaming.curate import (
        streaming_funnel,
    )

    return streaming_funnel(query, order=DECODE_FUNNEL_ORDER)


def streaming_decode(frames: DataFrame, compiler: DecodeCompiler) -> DataFrame:
    """Wide decode on a streaming frames DF, with an event-time column."""
    wide = compiler.decode_wide(frames, time_col="Time_ms")
    return wide.withColumn("event_time", F.timestamp_millis(F.col("Time_ms").cast("long")))


def streaming_bucket_downsample(
    wide: DataFrame,
    cache_ms: float,
    signal_cols: list[str],
    watermark: str = "10 seconds",
) -> DataFrame:
    """A1/A2 as a watermarked tumbling window aggregation (append mode).

    Deterministic across batch boundaries: the per-window value is the
    latest-*event-time* non-null observation (``max(struct(t, v))``),
    not the last-arrived row — re-running the same frames through any
    micro-batch partitioning yields identical output.
    """
    win_ms = max(int(cache_ms), 1)

    def pick_last(c: str):
        q = ident(c)
        return F.expr(
            f"max(CASE WHEN ({q} IS NOT NULL) THEN struct(`event_time` AS t, {q} AS v) END).v AS {q}"
        )

    agged = (
        wide.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", f"{win_ms} milliseconds").alias("w"))
        .agg(*[pick_last(c) for c in signal_cols])
    )
    return agged.selectExpr(
        "CAST((unix_micros(`w`.`start`) / 1000) AS DOUBLE) AS `Time_ms`", *map(ident, signal_cols)
    )


def run_stream(
    spark: SparkSession,
    cfg,
    host: str = "localhost",
    port: int = 9000,
    checkpoint: str = "/tmp/dbc_stream_ckpt",
):
    """Wire socket source → decode → window → sinks for the live CLI path."""
    from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc

    spec = parse_dbc(cfg.dbc_path)
    compiler = DecodeCompiler(spec)
    frames = stream_candump_socket(spark, host, port)
    wide = streaming_decode(frames, compiler)
    sig_cols = [s.column_name for _, s in spec.all_signals()]
    out = streaming_bucket_downsample(wide, cfg.cache_ms or 1.0, sig_cols)

    queries = []
    if cfg.output_path:
        queries.append(stream_parquet_sink(out, cfg.output_path, checkpoint))
    if cfg.live_signals:
        queries.append(stream_console_sink(out, cfg.live_signals))
    # C2 graceful shutdown: SIGINT stops the queries cleanly (committed
    # micro-batches stay durable via the checkpoint) — the declarative
    # analog of the reference's atomic shouldExit flag
    # (/root/reference/src/main.cpp:57-83), minus the lost-footer failure
    # mode (main.cpp:60-61).
    try:
        for q in queries:
            q.awaitTermination()
    except KeyboardInterrupt:
        for q in queries:
            q.stop()
    return queries
