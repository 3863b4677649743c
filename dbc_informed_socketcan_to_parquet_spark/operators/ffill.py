"""A4 — forward-fill (last observation carried forward).

Reference semantics: ``--forward-fill`` keeps each signal's last observed
value in subsequent rows instead of NULL (README.md:38; v1 implementation =
"don't clear the cache", /root/reference/src/main.cpp.bak:399-405; the v2
binary only prints ``FORWARD FILL NOT WRITTEN``,
/root/reference/src/main.cpp:146-148 — we implement the documented
behavior).

Two physical strategies:

- :func:`forward_fill` — the canonical Spark LOCF: ``last(c, ignorenulls)``
  over an unbounded-preceding row window over the whole frame, so it runs
  as a single task; correct, and the reference the tests compare
  :func:`forward_fill_blocks` against, but not the 100 TB path.
- :func:`forward_fill_blocks` — scalable two-pass LOCF: split the time axis
  into aligned blocks, fill within blocks in parallel, compute each block's
  carry-out (last non-null per column — a tiny aggregate), prefix-fill the
  carries on the driver-sized block table, broadcast-join the carry-in back
  and coalesce.  Work is O(n) with one narrow shuffle (the within-block
  window sorts block-locally) plus one broadcast join: no global sort, no
  single-task stage.

Each stage (fill, carry-out, carry-in, coalesce) is ONE projection or
aggregate over all columns, so the plan grows linearly with the number of
columns; a ``withColumn`` per column would re-analyse the whole plan once
per column.  Every expression is SQL text, so a stage costs about one JVM
call per column to build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import double, ident

#: ``forward_fill_blocks`` block width when the caller names none, in
#: ``order_col`` units — one minute for the engine's millisecond axis.
DEFAULT_BLOCK_WIDTH = 60_000.0

_TO_HERE = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _replace(df: DataFrame, exprs: dict[str, str], out_cols: list[str]) -> DataFrame:
    """One ``selectExpr`` of ``out_cols`` in order, each taken from the SQL
    text in ``exprs`` when present, else passed through."""
    return df.selectExpr(*[f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in out_cols])


def _locf(c: str, window: str) -> str:
    """Last non-null value of column ``c`` over the SQL window spec."""
    return f"last({ident(c)}, true) OVER ({window})"


def forward_fill(df: DataFrame, order_col: str, cols: list[str] | None = None) -> DataFrame:
    """LOCF over ``order_col``."""
    if cols is None:
        cols = [c for c in df.columns if c != order_col]
    w = f"ORDER BY {ident(order_col)} {_TO_HERE}"
    return _replace(df, {c: _locf(c, w) for c in cols}, df.columns)


def forward_fill_blocks(
    df: DataFrame,
    order_col: str,
    cols: list[str] | None = None,
    block_width: float | None = None,
) -> DataFrame:
    """Scalable LOCF: aligned time blocks + carry-in broadcast.

    ``block_width`` is in units of ``order_col`` (e.g. ms) and defaults to
    :data:`DEFAULT_BLOCK_WIDTH`; a fixed width needs no pass over the data.
    Correctness is independent of the block width; width only tunes
    parallelism (one block is one window task).
    """
    if cols is None:
        cols = [c for c in df.columns if c != order_col]
    width = DEFAULT_BLOCK_WIDTH if block_width is None else float(block_width)
    if width <= 0:
        raise ValueError(f"block_width must be positive, got {block_width!r}")
    order = ident(order_col)
    blocked = df.withColumn("_blk", F.expr(f"CAST(FLOOR(({order} / {double(width)})) AS BIGINT)"))

    # Both consumers below (the within-block fill window and the carry-out
    # aggregate) need the data clustered by _blk.  Establish that with ONE
    # explicit exchange they both sit above: the window's required
    # distribution and the aggregate's grouping are each satisfied by this
    # partitioning, so neither inserts its own shuffle, the two plan
    # branches share an identical Exchange subtree, and ReuseExchange
    # executes the (possibly expensive — parse + pivot in the bench spine)
    # upstream exactly once instead of twice (r15; guide §2.4).
    blocked = blocked.repartition("_blk")

    # Pass 1: fill within each block (block-local sort, fully parallel).
    w_in = f"PARTITION BY `_blk` ORDER BY {order} {_TO_HERE}"
    filled = _replace(blocked, {c: _locf(c, w_in) for c in cols}, blocked.columns)

    # Pass 2: per-block carry-out = value at the max ord where c is non-null.
    carry_out = blocked.groupBy("_blk").agg(
        *[
            F.expr(f"max_by({ident(c)}, CASE WHEN ({ident(c)} IS NOT NULL) THEN {order} END) AS {ident(c)}")
            for c in cols
        ]
    )
    # Prefix-fill carries across blocks: the block table is tiny (≈ number
    # of partitions), so a single-task window here is free.
    w_blk = "ORDER BY `_blk` ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    carry_in = carry_out.selectExpr(
        "`_blk`", *[f"{_locf(c, w_blk)} AS {ident('_carry_' + c)}" for c in cols]
    )

    out = filled.join(F.broadcast(carry_in), "_blk", "left")
    return _replace(
        out, {c: f"coalesce({ident(c)}, {ident('_carry_' + c)})" for c in cols}, df.columns
    )
