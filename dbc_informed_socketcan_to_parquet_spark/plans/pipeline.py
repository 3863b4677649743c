"""The end-to-end decode pipeline — the engine's equivalent of the
reference binary's single hand-written loop (/root/reference/src/main.cpp:122-186).

One declarative lineage:

    source (candump text / legacy parquet / socket stream)
      → T1 parse → T6 known-id filter → T2 time normalize
      → T3/T4/T5 wide decode (DecodeCompiler)
      → A1/A2 bucket downsample (``--cache``)
      → A4 forward-fill (``--forward-fill``)
      → K1 parquet sink (+ K2 console, K3 websocket)

Catalyst fuses parse+filter+decode into one WholeStageCodegen stage over
the text scan; the only shuffle is the bucket aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc
from dbc_informed_socketcan_to_parquet_spark.dbc.spec import DbcSpec
from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import ident
from dbc_informed_socketcan_to_parquet_spark.operators.bucket import bucket_downsample
from dbc_informed_socketcan_to_parquet_spark.operators.ffill import forward_fill_blocks
from dbc_informed_socketcan_to_parquet_spark.sinks import console_sink, write_parquet
from dbc_informed_socketcan_to_parquet_spark.sources.candump import read_candump
from dbc_informed_socketcan_to_parquet_spark.sources.parquet_reingest import read_legacy_parquet


@dataclass
class PipelineConfig:
    """CLI-surface parity with the reference
    (struct CommandLineArugments [sic], /root/reference/src/arguments.h:22-38)."""

    dbc_path: str | None = None
    input_path: str | None = None          # --if
    output_path: str | None = None         # --of
    input_format: str = "file"             # --file | --parquet | --stdin/--socket
    cache_ms: float = 0.0                  # --cache (default 0: row per message)
    forward_fill: bool = False             # --forward-fill
    live_signals: list[str] = field(default_factory=list)  # --live-decode (repeatable)
    adjust_timestamp: bool = True          # --no-adjust-timestamp inverts
    agg: str = "last"                      # v1 last-write-wins semantics (SURVEY §2.3 A2)


class DecodePipeline:
    def __init__(self, config: PipelineConfig, spec: DbcSpec | None = None):
        self.config = config
        self.spec = spec if spec is not None else parse_dbc(config.dbc_path)
        self.compiler = DecodeCompiler(self.spec)

    def decoded(self, spark: SparkSession) -> DataFrame:
        """Wide decoded stream with ``Time_ms`` per the timestamp mode —
        the pipeline up to (not including) the bucket aggregation."""
        cfg = self.config
        if cfg.input_format == "parquet":
            # already wide; just migrate the legacy schema (T9)
            return read_legacy_parquet(spark, cfg.input_path, self.spec)
        path = cfg.input_path
        if cfg.input_format == "stdin":
            # S3 batch form (/root/reference/src/inputs/stdinInput.cpp:12-43):
            # stdin is inherently single-process, so spool it to a landing
            # file once and let the distributed text scan take over.  The
            # live analog is the socket stream source (--socket).
            path = self._spool_stdin()
        frames = read_candump(spark, path, adjust_timestamp=cfg.adjust_timestamp)
        # decode_wide derives its own epoch-ms axis from ts; the source
        # already computed the (possibly normalized) Time_ms — keep that one.
        wide = self.compiler.decode_wide(frames, time_col="_epoch_ms", keep_cols=("Time_ms",))
        return wide.drop("_epoch_ms")

    def _spool_stdin(self) -> str:
        import sys
        import tempfile

        fd, path = tempfile.mkstemp(prefix="candump_stdin_", suffix=".log")
        with open(fd, "w") as out:
            for line in sys.stdin:
                out.write(line)
        return path

    def run_batch(self, spark: SparkSession) -> DataFrame:
        cfg = self.config
        out = self.decoded(spark)
        did_downsample = False
        if cfg.input_format != "parquet":
            sig_cols = [s.column_name for _, s in self.spec.all_signals()]
            out = bucket_downsample(out, cfg.cache_ms, signal_cols=sig_cols, agg=cfg.agg)
            did_downsample = cfg.cache_ms > 0
        present = set(out.columns)
        sig_cols = [s.column_name for _, s in self.spec.all_signals() if s.column_name in present]
        if cfg.forward_fill:
            out = forward_fill_blocks(out, "Time_ms", sig_cols)
        # Time_ms is DOUBLE on every path, as in the reference's output
        # table; a whole-ms --cache buckets it as BIGINT
        out = out.selectExpr("CAST(`Time_ms` AS DOUBLE) AS `Time_ms`", *map(ident, sig_cols))
        # Ordering: post-downsample output is small (one row per bucket) —
        # a total order is cheap and matches the reference file layout.  On
        # the default row-per-frame path (cache 0) a global sort of every
        # frame is the single most expensive node at 100 TB and buys
        # nothing: the text scan is already time-ordered per split, so a
        # partition-local sort keeps each output file time-sorted and the
        # file sequence preserves global order.  No exchange either way.
        if did_downsample or cfg.forward_fill:
            out = out.orderBy("Time_ms")
        else:
            out = out.sortWithinPartitions("Time_ms")
        if cfg.live_signals:
            console_sink(out, cfg.live_signals)
        if cfg.output_path:
            write_parquet(out, cfg.output_path, mode="overwrite")
        return out


def decode_audit(
    lines: DataFrame,
    spec: DbcSpec,
    value_col: str = "value",
) -> DataFrame:
    """Drop funnel for the decode chain's SILENT loss points — malformed
    candump lines and unknown CAN ids, both of which the reference
    discards without a trace (fileInput.cpp:16-31 skips parse failures;
    decoder.cpp:77-79 skips ids missing from the DBC).  At fleet scale
    "how many frames did we lose, and where" is the first operational
    question a capture pipeline gets; this is the decode twin of
    ``operators/curate.curate_audit``.

    Returns ``(stage_idx, stage, rows_in, rows_out, dropped)`` for the
    two drop-capable stages (``parse``, ``known_id``).  The three counts
    are observations on one ``noop`` write of the chain, so the audit
    runs the chain once, as one Spark job; the funnel itself is a
    driver-built 2-row frame.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dbc_informed_socketcan_to_parquet_spark.functions.candump import (
        parse_candump_lines,
    )

    seen = [Observation() for _ in range(3)]
    n = F.count(F.lit(1)).alias("n")
    frames = parse_candump_lines(lines.observe(seen[0], n), value_col, keep_malformed=False)
    known = DecodeCompiler(spec).known_id_filter(frames.observe(seen[1], n))
    known.observe(seen[2], n).write.format("noop").mode("overwrite").save()
    n_lines, n_parsed, n_known = (o.get["n"] for o in seen)
    return lines.sparkSession.createDataFrame(
        [
            (1, "parse", n_lines, n_parsed, n_lines - n_parsed),
            (2, "known_id", n_parsed, n_known, n_parsed - n_known),
        ],
        "stage_idx INT, stage STRING, rows_in BIGINT, rows_out BIGINT, dropped BIGINT",
    )
