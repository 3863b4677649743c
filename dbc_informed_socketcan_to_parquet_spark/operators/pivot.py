"""A3 — long↔wide reshaping for (time, name, value) signal streams.

The reference's pivot is emergent: the decode loop scatters each message's
signals into per-column builders (/root/reference/src/decoder.cpp:92-116),
with NULL padding making rows rectangular (writeparquet.h:64-68,129-143).
Our primary decode path (``DecodeCompiler.decode_wide``) needs no pivot at
all — the dictionary is known at plan time, so the wide shape is N
conditional projections.  These operators cover the *generic* long-form
case: data that arrives as (ts, signal_name, value) rows.

``pivot_last`` passes the known value list to ``.pivot()`` explicitly —
with the dictionary known there is no extra distinct-scan, and the shuffle
is a single hash aggregation on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pivot_last(
    long_df: DataFrame,
    names: list[str],
    key_cols: list[str],
    name_col: str = "signal_name",
    value_col: str = "value",
    order_col: str | None = None,
    agg: str = "last",
) -> DataFrame:
    """Pivot (key…, name, value) → one column per name, last-value-wins.

    Deterministic under shuffle: uses max_by/min_by on ``order_col``
    (default: the last key column, typically the time bucket).
    """
    ord_col = F.col(order_col) if order_col else F.col(key_cols[-1])
    fn = F.max_by if agg == "last" else F.min_by
    aggs = []
    for n in names:
        hit = F.col(name_col) == F.lit(n)
        v = F.when(hit, F.col(value_col))
        o = F.when(hit & F.col(value_col).isNotNull(), ord_col)
        aggs.append(fn(v, o).alias(n))
    return long_df.groupBy(*[F.col(k) for k in key_cols]).agg(*aggs)


def unpivot(
    wide: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    name_col: str = "signal_name",
    value_col: str = "value",
) -> DataFrame:
    """Wide → long using the built-in ``unpivot`` (a generate, no shuffle)."""
    return wide.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        name_col,
        value_col,
    )
