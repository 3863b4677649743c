"""Timezone- and precision-safe time arithmetic.

All engine time math runs on epoch-millisecond integers rather than
timestamps, for three reasons:

1. Spark timestamp rendering/parsing depends on the *session* timezone,
   which the engine does not control when embedded (the driver harness
   owns the session).  ``unix_millis`` is timezone-independent.
2. The fixtures carry nanosecond-precision parquet timestamps; Spark
   truncates to microseconds on read while DuckDB keeps ns.  Millisecond
   flooring is the finest granularity on which both engines agree
   (floor(ns → µs → ms) ≡ floor(ns → ms) for non-negative epochs).
3. The reference's own time axis *is* epoch-derived milliseconds
   (``Time_ms``, /root/reference/src/decoder.cpp:15).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import double


def epoch_ms(ts: Column) -> Column:
    """Epoch milliseconds (floor) of a timestamp column, TZ-independent."""
    return F.floor(F.unix_micros(ts) / F.lit(1000)).cast("long")


def bucket_ms(ts_ms: str, width_ms: float) -> str:
    """Aligned tumbling-bucket start for an epoch-ms column, as SQL text
    over the SQL text ``ts_ms``.

    The reference's buckets are stream-relative and drift by one message
    (event-driven close, /root/reference/src/main.cpp:110-131 — see
    SURVEY.md §2.3 A1); we adopt epoch-aligned buckets as the clean,
    shuffle-friendly semantic and document the divergence.  Width may be
    fractional ms; output is the bucket's start in ms (double when width
    is fractional, long otherwise).
    """
    if float(width_ms) == int(width_ms):
        w = int(width_ms)
        return f"CAST((FLOOR(({ts_ms} / {w})) * {w}) AS BIGINT)"
    w = double(width_ms)
    return f"(FLOOR(({ts_ms} / {w})) * {w})"
