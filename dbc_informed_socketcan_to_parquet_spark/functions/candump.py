"""candump-log line parse (SQL text) and format (Column expressions).

Line format (``candump -l``): ``(epoch.frac) iface HEXID#HEXBYTES``
(reference parser: /root/reference/src/inputs/candump_parse.h:38-101).
Malformed lines are dropped — the reference skips them with a warning
(candump_parse.h:44-58) and treats 5 consecutive failures as EOF; in a
declarative engine "skip" is a filter.  Payloads longer than 8 bytes are
truncated to 8, matching CAN_MAX_DLEN handling (candump_parse.h:87-89).

The parse is built-in-function SQL text (``rlike``, ``split``, ``conv``,
``unhex``) applied with ``selectExpr`` — JVM-side, codegen'd, about one
JVM call per output column to build, and safe under ANSI mode because the
regex gate runs before any numeric cast.  :func:`format_candump_line`
takes Columns and stays Column algebra.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import ident, string

#: Full-line validation + capture groups: (1) epoch seconds with optional
#: fraction, (2) interface, (3) hex CAN id, (4) hex payload (may be empty).
CANDUMP_REGEX = r"^\s*\((\d+(?:\.\d+)?)\)\s+(\S+)\s+([0-9A-Fa-f]{1,8})#(?:R\d?|([0-9A-Fa-f]*))\s*$"
_BLANKS = r"\s+"


def parse_candump_lines(
    lines: DataFrame,
    value_col: str = "value",
    keep_malformed: bool = False,
) -> DataFrame:
    """Parse a one-string-column DataFrame of candump lines into frames.

    Output schema: ``ts double`` (epoch seconds), ``iface string``,
    ``can_id long``, ``data binary`` (≤ 8 bytes, zero-padded by the decoder
    when shorter).  Remote-request frames (``#R``) parse with empty payload.
    """
    v = ident(value_col)
    # ONE regex pass validates the line shape; field extraction then runs
    # on cheap split/substring ops (measured ~35% faster than four
    # regexp_extract passes — this is the per-frame hot path).
    ok = f"({v} RLIKE {string(CANDUMP_REGEX)})"
    parts = f"split(trim({v}), {string(_BLANKS)}, -1)"
    ts_tok = f"{parts}[0]"
    ts = f"CAST(substr({ts_tok}, 2, (length({ts_tok}) - 2)) AS DOUBLE)"
    iface = f"{parts}[1]"
    id_payload = f"split({parts}[2], '#', 2)"
    can_id = f"CAST(conv({id_payload}[0], 16, 10) AS BIGINT)"
    # remote-request frames (#R / #R3) carry no payload
    payload_hex = f"CASE WHEN startswith({id_payload}[1], 'R') THEN '' ELSE {id_payload}[1] END"
    # odd-length hex (malformed pair) → drop the trailing nibble, like a
    # byte-pair loop would; >8 bytes → truncate to 8 (CAN_MAX_DLEN).
    trunc = f"substring({payload_hex}, 1, 16)"
    even_len = f"(CAST((length({trunc}) / 2) AS INT) * 2)"
    data = f"unhex(substr({trunc}, 1, {even_len}))"
    fields = {"ts": ts, "iface": iface, "can_id": can_id, "data": data}
    if keep_malformed:
        return lines.withColumns(
            {name: F.expr(f"CASE WHEN {ok} THEN {e} END") for name, e in fields.items()}
        )
    # Malformed-line DROP is expressed as a Generate (explode of a 0/1-element
    # array), not a Filter: Catalyst pushes a Filter on a synthesized column
    # through a round-robin Exchange by substituting the column's defining
    # expression, so a synth→fan_out→parse pipeline would run the whole
    # line-synthesis + regex chain BELOW the exchange (single-threaded on a
    # one-file scan) and again above it (measured r15: the entire decode
    # spine paid the synth twice).  A Generate never migrates through an
    # Exchange, the regex gate evaluates exactly once per row, and a NULL
    # array (the otherwise branch) drops the row just like the filter did.
    other = [ident(c) for c in lines.columns if c != value_col]
    frame = "struct(" + ", ".join(f"{e} AS {name}" for name, e in fields.items()) + ")"
    return (
        lines.selectExpr(*other, f"explode(CASE WHEN {ok} THEN array({frame}) END) AS `_f`")
        .selectExpr(*other, *[f"`_f`.{name}" for name in fields])
    )


def format_candump_line(
    ts_seconds: Column,
    iface: Column,
    can_id: Column,
    payload_hex: Column,
) -> Column:
    """Inverse of the parser — render frames as candump text lines.

    Used by the round-trip tests/oracles and by the candump *sink* (the
    reference has no such sink; we add it for symmetry so streams can be
    re-emitted in the wire format).
    """
    secs = F.floor(ts_seconds).cast("long")
    micros = F.round((ts_seconds - secs.cast("double")) * 1_000_000).cast("long")
    return F.format_string("(%d.%06d) %s %X#%s", secs, micros, iface, can_id, payload_hex)
