"""DBC → SQL-text compiler (the engine's "physical decode codegen").

Replaces the reference's per-frame interpretive decode loop
(/root/reference/src/decoder.cpp:76-129) with driver-side expression
generation: one Spark SQL expression per signal, each a shift and mask on a
payload-word column that ``decode_wide`` computes once per frame in its own
projection, so a 100-signal DBC decodes in one WholeStageCodegen stage with
zero Python in the data path and a plan that grows linearly with DBC width.

The expressions are SQL text, and ``decode_wide`` applies each projection
with one ``selectExpr`` call: building the plan costs about one JVM call
per output column, where Column algebra cost one JVM call (plus a Python
call-site capture) per Column method — hundreds per signal.
:meth:`DecodeCompiler.raw_expr`, :meth:`~DecodeCompiler.phys_expr` and
:meth:`~DecodeCompiler.enum_expr` are ``F.expr`` of the same text, for
one-off Column use.

Scale notes (100 TB):
- The known-id filter (T6) is an ``IN`` over a driver-side literal list —
  pushed into the parquet/text scan by Catalyst.
- Wide decode = a word projection plus N pure projections; no shuffle is
  introduced until the downsample aggregation.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.dbc.spec import BOOL, DbcSpec, MessageSpec, SignalSpec
from dbc_informed_socketcan_to_parquet_spark.functions.bitfield import (
    byteswap64,
    extract_bits,
    ieee754_float32_sql,
    motorola_lsb,
    payload_be_u64,
    payload_le_u64,
    sign_extend,
)
from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import double, ident, string

#: byte order -> column holding that payload word inside ``decode_wide``
_WORD_COLS = {"big": "_word_be", "little": "_word_le"}


class DecodeCompiler:
    """Compiles a :class:`DbcSpec` into decode expressions over a frames DF.

    Frames schema contract (FIXTURES.md §1.2): ``ts double`` (epoch s),
    ``can_id long``, ``data binary``, plus arbitrary passthrough columns.
    """

    def __init__(self, spec: DbcSpec, can_id_col: str = "can_id", data_col: str = "data"):
        self.spec = spec
        self.can_id_col = can_id_col
        self.data_col = data_col

    # -- signal-level ------------------------------------------------------
    #
    # ``words`` maps byte order ("big" / "little") to the SQL text of a
    # column that already holds that payload word; ``decode_wide`` passes
    # references to its word projection.  Without it the word is built
    # inline from the data column — the form for one-off expressions over
    # plain frames.

    def raw_sql(self, sig: SignalSpec, words: Mapping[str, str] | None = None) -> str:
        """Unsigned raw bit-field of one signal from the payload word."""
        little = sig.byte_order == "little"
        if words is not None:
            word = words[sig.byte_order]
        else:
            data = ident(self.data_col)
            word = payload_le_u64(data) if little else payload_be_u64(data)
        lsb = sig.start_bit if little else motorola_lsb(sig.start_bit, sig.bit_length)
        return extract_bits(word, lsb, sig.bit_length)

    def raw_expr(self, sig: SignalSpec, words: Mapping[str, str] | None = None) -> Column:
        return F.expr(self.raw_sql(sig, words))

    def phys_sql(
        self,
        sig: SignalSpec,
        msg: MessageSpec | None = None,
        words: Mapping[str, str] | None = None,
    ) -> str:
        """Physical value: raw → (sign extend) → reinterpret/scale → cast.

        Mirrors dbcppp RawToPhys semantics (phys = raw * factor + offset,
        /root/reference/src/decoder.cpp:103-115) and the flt32 reinterpret
        convention (decoder.cpp:28-37); typing per SignalSpec.type_tag.

        The message gate is applied by *arithmetic masking*
        (``value + CASE WHEN gate THEN 0 END``), not ``CASE WHEN gate THEN
        value END``: the value subtree stays UNCONDITIONAL, so when the word
        is built inline (no ``words``) codegen subexpression elimination can
        share it across the signals of one projection.  Wrong-message rows
        compute a wasted field (cheap integer ops) and null out via
        ``x + NULL = NULL``.
        """
        raw = self.raw_sql(sig, words)
        if sig.is_float32:
            num = ieee754_float32_sql(raw)
        else:
            signed = sign_extend(raw, sig.bit_length) if sig.is_signed else raw
            if sig.type_tag == BOOL or (sig.factor == 1.0 and sig.offset == 0.0):
                num = signed
            else:
                num = f"((CAST({signed} AS DOUBLE) * {double(sig.factor)}) + {double(sig.offset)})"
        # Gate on owning message id — a frame only carries its own signals
        # (scatter loop, /root/reference/src/decoder.cpp:92-116).
        if msg is not None:
            gate = self._id_gate(msg)
            # Multiplexed signal: additionally require the mux switch value
            # (T5, /root/reference/src/decoder.cpp:85-88).
            if sig.mux_switch_value is not None and msg.mux_switch is not None:
                sw = self.raw_sql(msg.mux_switch, words)
                gate = f"({gate} AND ({sw} = {sig.mux_switch_value}))"
            num = f"({num} + CASE WHEN {gate} THEN 0 END)"
        value = f"({num} != 0)" if sig.type_tag == BOOL else num
        return f"CAST({value} AS {sig.spark_type.simpleString()})"

    def phys_expr(
        self,
        sig: SignalSpec,
        msg: MessageSpec | None = None,
        words: Mapping[str, str] | None = None,
    ) -> Column:
        return F.expr(self.phys_sql(sig, msg, words))

    def enum_sql(self, sig: SignalSpec, msg: MessageSpec) -> str:
        """VAL_ value-table rendering: raw value → label string (falls back
        to the number as text for unmapped values).  A driver-side literal
        map compiled into element_at on a map literal — no join, no UDF."""
        table = self.spec.value_tables.get((msg.can_id, sig.name))
        raw = self.raw_sql(sig)
        signed = sign_extend(raw, sig.bit_length) if sig.is_signed else raw
        if not table:
            return f"CAST({signed} AS STRING)"
        mapping = "map(" + ", ".join(f"{int(k)}, {string(v)}" for k, v in sorted(table.items())) + ")"
        labeled = f"coalesce(element_at({mapping}, CAST({signed} AS INT)), CAST({signed} AS STRING))"
        return f"CASE WHEN {self._id_gate(msg)} THEN {labeled} END"

    def enum_expr(self, sig: SignalSpec, msg: MessageSpec) -> Column:
        return F.expr(self.enum_sql(sig, msg))

    def _id_gate(self, msg: MessageSpec) -> str:
        return f"({ident(self.can_id_col)} = {msg.can_id})"

    # -- frame-level -------------------------------------------------------

    def known_id_filter(self, frames: DataFrame) -> DataFrame:
        """T6: drop frames whose id is not in the dictionary
        (/root/reference/src/decoder.cpp:77-79).  Literal ``isin`` —
        Catalyst pushes it to the scan.  Written as a SQL ``IN`` list."""
        ids = ", ".join(str(i) for i in self.spec.known_ids())
        return frames.filter(f"{ident(self.can_id_col)} IN ({ids})" if ids else "FALSE")

    def decode_wide(
        self,
        frames: DataFrame,
        time_col: str = "Time_ms",
        keep_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Sparse wide decode: one row per frame, one column per DBC signal,
        NULL for signals not carried by the frame's message.  Frames whose id
        is not in the dictionary are dropped first (:meth:`known_id_filter`).

        This is the long→wide pivot (A3) in its shuffle-free form: because
        the signal→message mapping is known at compile time, the "pivot" is
        just N conditional projections — no groupBy, no extra scan.
        Downstream, the bucket downsample (operators/bucket.py) collapses
        rows per time bucket.

        The big-endian payload word is computed once per frame in its own
        projection, and the little-endian word — only when some signal is
        Intel — as a byte swap of that column.  Every signal is then a
        shift and mask on a column reference, so the plan holds one word
        subtree however wide the DBC is.  ``CollapseProject`` keeps the word
        projection because each word is referenced more than once and is
        not a cheap expression.  Each projection is one ``selectExpr``.
        """
        frames = self.known_id_filter(frames)
        passthrough = list(dict.fromkeys([*keep_cols, "ts", self.can_id_col]))
        words = {order: ident(c) for order, c in _WORD_COLS.items()}
        framed = frames.selectExpr(
            *map(ident, passthrough),
            f"{payload_be_u64(ident(self.data_col))} AS {words['big']}",
        )
        if any(
            s is not None and s.byte_order == "little"
            for m in self.spec.messages
            for s in (*m.signals, m.mux_switch)
        ):
            framed = framed.selectExpr("*", f"{byteswap64(words['big'])} AS {words['little']}")
        cols = [ident(c) for c in keep_cols]
        cols.append(f"(`ts` * {double(1000.0)}) AS {ident(time_col)}")
        for msg, sig in self.spec.all_signals():
            cols.append(f"{self.phys_sql(sig, msg, words)} AS {ident(sig.column_name)}")
        return framed.selectExpr(*cols)
