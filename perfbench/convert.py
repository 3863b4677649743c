"""Batch conversion workloads: a seeded candump log through
``DecodePipeline.run_batch`` to Parquet, checked against the reference."""

from __future__ import annotations

import random
import time

import check
import gen
from harness import Context, batch_metrics, noop_time

N_SIGNALS = 16
LOG_RATE_HZ = 8000
LOG_SECONDS = 3.0

#: traced span -> per-layer build-time metric
BUILD_METRICS = {
    "sources.read": "sources.read_build_s",
    "dbc.decode": "dbc.decode_build_s",
    "operators.bucket": "operators.bucket.build_s",
    "operators.ffill": "operators.ffill.build_s",
}


class Convert:
    def __init__(self, ctx: Context, cache_ms: int, forward_fill: bool):
        self.ctx = ctx
        self.cache_ms = cache_ms
        self.forward_fill = forward_fill
        rng = random.Random(ctx.seed)
        self.net = gen.make_network(random.Random(gen.NETWORK_SEED), N_SIGNALS)
        self.log = gen.make_log(rng, self.net, LOG_RATE_HZ, LOG_SECONDS)
        self.dbc_path = ctx.path("network.dbc")
        self.log_path = ctx.path("capture.log")
        for path, text in ((self.dbc_path, self.net.dbc_text), (self.log_path, self.log.text)):
            with open(path, "w") as fh:
                fh.write(text)
        if cache_ms > 0:
            self.expected = check.expected_downsample(
                self.log.frames, self.net.columns, cache_ms, forward_fill)
        else:
            self.expected = check.expected_raw(self.log.frames, self.net.columns)
        self.spec = None

    # -- set-up and the timed operation ------------------------------------

    def prepare(self) -> None:
        from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc

        t0 = time.perf_counter()
        self.spec = parse_dbc(self.dbc_path)
        self.ctx.tracer.values["dbc.parse_s"] = time.perf_counter() - t0

    def op(self, path: str, out: str) -> float:
        """One conversion, from the ``run_batch`` call to the Parquet commit."""
        from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import (
            DecodePipeline,
            PipelineConfig,
        )

        cfg = PipelineConfig(input_path=path, output_path=out, cache_ms=float(self.cache_ms),
                             forward_fill=self.forward_fill)
        t0 = time.perf_counter()
        DecodePipeline(cfg, self.spec).run_batch(self.ctx.spark)
        return time.perf_counter() - t0

    def verify(self, out: str) -> list[str]:
        return check.check_table(out, self.expected, self.net.columns, self.net.kinds)

    # -- untraced run --------------------------------------------------------

    def run(self, result) -> None:
        """The first conversion runs in a fresh session, as each CLI
        invocation does; warm conversions follow until ``seconds`` pass."""
        batch_metrics(self.ctx, result, self.checked_op, self.log.lines, "frames")

    def checked_op(self, result, out: str) -> float | None:
        """One counted conversion; its wall time, or None if it failed."""
        result.attempted += 1
        try:
            wall = self.op(self.log_path, out)
        except Exception as exc:  # a failed conversion counts, the run goes on
            result.fail(f"conversion raised {type(exc).__name__}: {str(exc)[:200]}")
            return None
        problems = self.verify(out)
        if problems:
            result.fail(f"conversion output wrong: {problems[:3]}")
            return None
        return wall

    # -- traced run ----------------------------------------------------------

    def run_traced(self, result) -> None:
        """Per-layer build time (the lazy call itself) and self exec time
        (each cumulative prefix forced through ``noop``, minus its parent)."""
        from dbc_informed_socketcan_to_parquet_spark.sinks import write_parquet

        ctx, tr = self.ctx, self.ctx.tracer
        self.checked_op(result, ctx.path("cold_out"))
        before = self.checked_op(result, ctx.path("untraced_out"))

        out = ctx.path("traced_out")
        result.attempted += 1
        t0 = time.perf_counter()
        with tr.span("convert"):
            chain = self._chain(tr)
            with tr.span("sinks.parquet.write"):
                write_parquet(chain[-1][1], out, mode="overwrite")
        traced = time.perf_counter() - t0
        problems = self.verify(out)
        if problems:
            result.fail(f"traced conversion output wrong: {problems[:3]}")
        v = tr.values
        # the JVM still warms between operations: compare with untraced
        # operations on both sides of the traced one
        after = self.checked_op(result, ctx.path("untraced_out"))
        if before is not None and after is not None:
            v["trace.overhead_s"] = traced - (before + after) / 2
        for span, metric in BUILD_METRICS.items():
            v[metric] = tr.last(span) if any(s[0] == span for s in tr.spans) else 0.0

        exec_s = {name: noop_time(df) for name, df in chain}
        names = [n for n, _ in chain]

        def self_time(name: str) -> float:
            if name not in exec_s:
                return 0.0
            return exec_s[name] - exec_s[names[names.index(name) - 1]]

        v["functions.parse_exec_s"] = self_time("parse")
        v["sources.normalize_exec_s"] = self_time("normalize")
        v["dbc.decode_exec_s"] = self_time("decode")
        v["operators.bucket.exec_s"] = self_time("bucket")
        v["operators.ffill.exec_s"] = self_time("ffill")
        v["sinks.parquet.exec_s"] = tr.last("sinks.parquet.write") - exec_s["order"]
        v["sinks.parquet.bytes"], v["sinks.parquet.files"] = check.parquet_stats(out)

        counts = {name: df.count() for name, df in chain if name in ("scan", "parse", "decode", "bucket")}
        if (counts["parse"], counts["decode"]) != (self.log.parsed, self.log.known):
            result.fail(f"parsed/known frames {counts['parse']}/{counts['decode']}, "
                        f"expected {self.log.parsed}/{self.log.known}")
        v["sources.lines_in"] = counts["scan"]
        v["functions.parse_ratio"] = counts["parse"] / counts["scan"]
        v["dbc.known_ratio"] = counts["decode"] / counts["parse"]
        v["operators.bucket.rows_out"] = counts.get("bucket", 0)
        # scans of the log in the executed plan: its final adaptive section
        final = chain[-1][1]
        final.collect()
        plan = final._jdf.queryExecution().executedPlan().toString()
        v["sources.scan_passes"] = plan.split("== Initial Plan ==")[0].count("FileScan text")

    def _chain(self, tr):
        """The ``run_batch`` lineage rebuilt from the public layer calls,
        as cumulative prefixes ``[(name, DataFrame)]``.  With a tracer, each
        lazy call is recorded as a build span."""
        from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
        from dbc_informed_socketcan_to_parquet_spark.functions.candump import parse_candump_lines
        from dbc_informed_socketcan_to_parquet_spark.operators.bucket import bucket_downsample
        from dbc_informed_socketcan_to_parquet_spark.operators.ffill import forward_fill_blocks
        from dbc_informed_socketcan_to_parquet_spark.sources.candump import normalize_time

        def call(name, fn, *args, **kwargs):
            return fn(*args, **kwargs) if tr is None else tr.timed(name, fn, *args, **kwargs)

        spark = self.ctx.spark
        cols = [s.column_name for _, s in self.spec.all_signals()]
        chain = []
        scan = call("sources.read", spark.read.text, self.log_path)
        chain.append(("scan", scan))
        parsed = call("functions.parse", parse_candump_lines, scan)
        chain.append(("parse", parsed))
        norm = call("sources.normalize", normalize_time, parsed, mode="min")
        chain.append(("normalize", norm))
        wide = call("dbc.decode", lambda: DecodeCompiler(self.spec).decode_wide(
            norm, time_col="_epoch_ms", keep_cols=("Time_ms",)).drop("_epoch_ms"))
        chain.append(("decode", wide))
        out = wide
        if self.cache_ms > 0:
            out = call("operators.bucket", bucket_downsample, out, float(self.cache_ms),
                       signal_cols=cols)
            chain.append(("bucket", out))
        if self.forward_fill:
            out = call("operators.ffill", forward_fill_blocks, out, "Time_ms", cols)
            chain.append(("ffill", out))
        out = out.select("Time_ms", *cols)
        if self.cache_ms > 0 or self.forward_fill:
            out = out.orderBy("Time_ms")
        else:
            out = out.sortWithinPartitions("Time_ms")
        chain.append(("order", out))
        return chain
