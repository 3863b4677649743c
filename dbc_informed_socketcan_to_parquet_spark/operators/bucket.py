"""A1/A2 — time-bucket downsample with last/first-value semantics.

The reference's "cache" groups the message stream into ``--cache <ms>``
buckets, one output row per bucket (/root/reference/src/main.cpp:110-131).
Within a bucket each signal keeps ONE value — last-write-wins in v1
(/root/reference/src/main.cpp.bak:340-342), accidentally first-write-wins in
v2 (unchecked ``SetValueAt`` status, /root/reference/src/writeparquet.h:70-75).
We standardize on **last** (the evident intent) and expose ``agg="first"``.

Implementation: ``max_by(value, ord) FILTER (WHERE value IS NOT NULL)``
per signal under a groupBy on the aligned bucket key.  This is
order-independent and therefore shuffle-safe — unlike ``last()`` over a
groupBy, whose result depends on physical row order.  ``ord`` defaults to
the time column; pass a sequence column (e.g. a line number) to break
same-millisecond ties deterministically.

The bucket key and every aggregate are SQL text, so building the
aggregation costs about one JVM call per signal column.

Scale: one hash aggregation = one shuffle on the bucket key, with map-side
partial aggregation; no window, no sort.  Buckets are epoch-aligned
(documented divergence from the reference's stream-relative drift —
SURVEY.md §2.3 A1) precisely so that the key is computable map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import ident
from dbc_informed_socketcan_to_parquet_spark.functions.timeutil import bucket_ms


def _one_value(col: str, ord_col: str, fn: str) -> str:
    c = ident(col)
    return f"{fn}({c}, CASE WHEN ({c} IS NOT NULL) THEN {ord_col} END) AS {c}"


def bucket_downsample(
    wide: DataFrame,
    cache_ms: float,
    signal_cols: list[str] | None = None,
    time_col: str = "Time_ms",
    order_col: str | None = None,
    agg: str = "last",
) -> DataFrame:
    """Collapse a sparse wide frame-stream into one row per time bucket.

    ``cache_ms <= 0`` reproduces the reference default (row per message,
    /root/reference/src/arguments.h:29): no aggregation at all.
    """
    if signal_cols is None:
        # exclude the time/order columns or they'd surface twice
        # (once as keys, once as max_by aggregates) with duplicate names
        signal_cols = [c for c in wide.columns if c not in (time_col, order_col)]
    if cache_ms is None or cache_ms <= 0:
        return wide

    if agg not in ("last", "first"):
        raise ValueError(f"agg must be 'last' or 'first', got {agg!r}")
    fn = "max_by" if agg == "last" else "min_by"
    ord_col = ident(order_col or time_col)
    t = ident(time_col)
    aggs = [F.expr(_one_value(c, ord_col, fn)) for c in signal_cols if c != order_col]
    return wide.groupBy(F.expr(f"{bucket_ms(t, cache_ms)} AS {t}")).agg(*aggs)


def rollup_cascade(
    wide: DataFrame,
    resolutions_ms: list[float],
    signal_cols: list[str] | None = None,
    time_col: str = "Time_ms",
    order_col: str | None = None,
    agg: str = "last",
) -> dict[float, DataFrame]:
    """Multi-resolution rollup: each coarser level re-aggregates the
    previous level instead of rescanning the raw stream.

    Exact for last/first-value because buckets are epoch-aligned and
    nested (each resolution must divide the next): the last non-null
    write inside a coarse bucket lives in the LAST fine bucket that has
    one, and the fine level already kept exactly that write.  So
    ``max_by(value, fine_bucket_start)`` over fine rows equals
    ``max_by(value, ord)`` over raw rows.  Requires ``order_col`` (when
    given) to be monotone in ``time_col`` — true for the line-number
    tie-breakers this engine uses.

    Scale: the raw table is scanned ONCE (the finest level); every other
    level aggregates the previous level's output, which is smaller by the
    bucket ratio.  At 100 TB, write each level to a table and build the
    next from the stored copy (otherwise lineage recomputes the chain per
    action); locally the returned DataFrames chain lazily.
    """
    rs = sorted(float(r) for r in resolutions_ms)
    if not rs or rs[0] <= 0:
        raise ValueError("resolutions_ms must be positive")
    for fine, coarse in zip(rs, rs[1:]):
        # ratio-based check: float modulo falsely rejects exact multiples
        # of non-binary resolutions (0.3 % 0.1 != 0 in binary float)
        ratio = coarse / fine
        if abs(ratio - round(ratio)) > 1e-9 or round(ratio) < 1:
            raise ValueError(
                f"resolutions must nest: {coarse} is not a multiple of {fine}"
            )
    if signal_cols is None:
        signal_cols = [c for c in wide.columns if c not in (time_col, order_col)]

    out: dict[float, DataFrame] = {}
    cur, ord_c = wide, order_col
    for r in rs:
        cur = bucket_downsample(
            cur, r, signal_cols=signal_cols, time_col=time_col,
            order_col=ord_c, agg=agg,
        )
        # coarser levels order by the fine bucket start: order_col (if
        # any) does not survive the first aggregation
        ord_c = None
        out[r] = cur
    return out


def bucket_downsample_unaligned(
    wide: DataFrame,
    cache_ms: float,
    signal_cols: list[str] | None = None,
    time_col: str = "Time_ms",
    order_cols: list[str] | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Bit-parity replica of the reference's EVENT-DRIVEN bucket close —
    the opt-in path for byte-identical migration diffs; the aligned
    :func:`bucket_downsample` stays the engine semantic.

    Reference rule (/root/reference/src/main.cpp:110-131): a row closes
    when a message's ts exceeds ``rowStart + cache_ms``; the crossing
    message lands in the CLOSING row (decode at :125 precedes the check
    at :127), then the next row starts AT the crossing message's ts
    (:129).  Boundaries are therefore stream-relative and sequential —
    each depends on every prior message.  Three further quirks replicated
    exactly:

    * first-write-wins per signal within a row — the v2 Arrow builder is
      append-only and the decoder discards the rejection status of later
      writes (/root/reference/src/writeparquet.h:70-75,
      /root/reference/src/decoder.cpp:104-112);
    * ``Time_ms`` of a closed row = its rowStart (0.0 for the first row,
      not the first message's ts);
    * at end-of-stream the in-progress row IS emitted with NULL
      ``Time_ms`` — FinishTable pads every column to the longest builder
      (/root/reference/src/writeparquet.h:118-146) and Time_ms is only
      written on close; the tail row exists iff some signal was written
      to it.

    Scale: the boundary recurrence is inherently sequential per stream
    (each bucket boundary depends on the previous one), so this runs as
    ``applyInPandas`` with ONE task per ``by`` group (the whole stream
    if ``by`` is None) — parallelism = #streams.  The boundary scan is
    a sequential per-row Python loop BY CONSTRUCTION; only the
    per-bucket first-non-null aggregation after it is vectorized.  Use
    the aligned operator for anything but parity replays.

    ``wide`` is the decoded one-row-per-frame stream (nulls for signals
    a frame doesn't carry) with ``time_col`` in RELATIVE ms (the
    reference normalizes ts so the log starts at 0 — rowStart init 0.0
    assumes it).  ``order_cols`` must give the stream's total order
    (default: time_col alone; pass a line-number column to pin
    same-timestamp ordering).
    """
    import numpy as np
    import pandas as pd

    if cache_ms is None or cache_ms < 0:
        raise ValueError("cache_ms must be >= 0 for the unaligned replica")
    group_cols = list(by) if by else []
    order = list(order_cols) if order_cols else [time_col]
    if signal_cols is None:
        skip = {time_col, *order, *group_cols}
        signal_cols = [c for c in wide.columns if c not in skip]

    types = {f.name: f.dataType.simpleString() for f in wide.schema.fields}
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in group_cols]
        + [f"{time_col} double"]
        + [f"{c} {types[c]}" for c in signal_cols]
    )
    # pandas nullable dtypes so NaN-padded int/bool columns survive the
    # Arrow conversion as nulls instead of failing the safe cast
    _NULLABLE = {"bigint": "Int64", "int": "Int32", "smallint": "Int16",
                 "tinyint": "Int8", "boolean": "boolean"}

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="stable").reset_index(drop=True)
        ts = pdf[time_col].to_numpy(dtype=np.float64)
        n = len(ts)
        bucket = np.empty(n, dtype=np.int64)
        starts: list[float] = []
        row_start, b = 0.0, 0
        for i in range(n):
            bucket[i] = b
            if ts[i] - row_start > cache_ms:
                starts.append(row_start)
                row_start = ts[i]
                b += 1
        n_closed = len(starts)
        sig = pdf[signal_cols].copy()
        sig["_b"] = bucket
        rows = sig.groupby("_b", sort=True).first()  # first non-null per signal
        rows = rows.reindex(range(n_closed + 1) if n > 0 else [])
        # tail row only if something was written to it
        if len(rows) > n_closed and rows.iloc[n_closed].isna().all():
            rows = rows.iloc[:n_closed]
        time_vals = starts + [np.nan] * (len(rows) - n_closed)
        out = pd.DataFrame({time_col: pd.array(time_vals, dtype="float64")})
        for c in signal_cols:
            vals = rows[c].reset_index(drop=True)
            if types[c] in _NULLABLE:
                vals = vals.astype(_NULLABLE[types[c]])
            out[c] = vals
        for c in reversed(group_cols):
            out.insert(0, c, pdf[c].iloc[0] if len(pdf) else None)
        return out

    if group_cols:
        return wide.groupBy(*group_cols).applyInPandas(kernel, out_schema)
    return wide.groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda pdf: kernel(pdf.drop(columns=["_g"], errors="ignore")), out_schema
    )
