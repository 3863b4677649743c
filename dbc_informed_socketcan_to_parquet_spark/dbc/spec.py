"""DBC signal-dictionary model: the engine's external schema source.

The reference derives its whole output schema from a Vector DBC file at
startup (``/root/reference/src/decoder.cpp:3-74``) — schema-on-read with an
external data dictionary, never inferred from data.  We model the dictionary
as plain dataclasses; the compiler (``dbc/compiler.py``) turns it into Spark
Column expressions and a StructType.

Type-inference rules follow the reference's *intent* (SURVEY.md §1.2 /
§7.4): the reference's integer branch (``/root/reference/src/decoder.cpp:45``)
is unreachable due to an inverted comparison (``factor < 1.0001 && factor >
9.9999``); the evident intent — factor ≈ 1 and integral offset ⇒ integer
column — is what we implement, and we record the divergence here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

#: Column-type tags (mirror /root/reference/src/custom_types.h:13-26 variant arms)
BOOL, INT32, INT64, FLOAT32, FLOAT64 = "bool", "int32", "int64", "float32", "float64"

_SPARK_TYPES = {
    BOOL: T.BooleanType(),
    INT32: T.IntegerType(),
    INT64: T.LongType(),
    FLOAT32: T.FloatType(),
    FLOAT64: T.DoubleType(),
}

#: ``flt32_``-prefixed signal names mean "reinterpret the raw bits as an
#: IEEE-754 float32" and the prefix is stripped from the output column
#: (/root/reference/src/decoder.cpp:28-37, README.md:58).
FLT32_PREFIX = "flt32_"


@dataclass(frozen=True)
class SignalSpec:
    """One DBC signal: a bit-field within an 8-byte CAN payload."""

    name: str
    start_bit: int            # DBC start bit (LSB for Intel; MSB sawtooth pos for Motorola)
    bit_length: int
    byte_order: str = "little"  # "little" (Intel, DBC @1) | "big" (Motorola, DBC @0)
    is_signed: bool = False
    factor: float = 1.0
    offset: float = 0.0
    mux_switch_value: int | None = None  # decode only when the mux switch equals this

    @property
    def is_float32(self) -> bool:
        return self.name.startswith(FLT32_PREFIX)

    @property
    def column_name(self) -> str:
        return self.name[len(FLT32_PREFIX):] if self.is_float32 else self.name

    @property
    def type_tag(self) -> str:
        """Reference §1.2 rules with the intent-fixed integer branch."""
        if self.is_float32:
            return FLOAT32
        if self.bit_length == 1:
            return BOOL
        if abs(self.factor - 1.0) < 1e-4 and float(self.offset).is_integer():
            # intent of /root/reference/src/decoder.cpp:45-55 (branch is dead
            # in the reference; INT96 likewise dead — we cap at INT64).
            # Unsigned fields need one more bit than signed for the same
            # length: a u32 raw ≥ 2^31 would wrap in an int32 column.
            if self.bit_length > 32 or (self.bit_length == 32 and not self.is_signed):
                return INT64
            return INT32
        return FLOAT64 if self.bit_length >= 32 else FLOAT32

    @property
    def spark_type(self) -> T.DataType:
        return _SPARK_TYPES[self.type_tag]


@dataclass(frozen=True)
class MessageSpec:
    """One DBC message (frame layout) keyed by CAN id."""

    can_id: int
    name: str
    length: int = 8
    signals: tuple[SignalSpec, ...] = ()
    mux_switch: SignalSpec | None = None  # the multiplexor switch signal, if any


@dataclass
class DbcSpec:
    """A parsed DBC network: ordered messages, signal → column mapping.

    Column order mirrors the reference: ``Time_ms`` first
    (/root/reference/src/decoder.cpp:15), then one column per signal in
    message-declaration order (/root/reference/src/decoder.cpp:17-73).
    """

    messages: tuple[MessageSpec, ...] = field(default_factory=tuple)
    #: VAL_ signal value tables: (can_id, signal_name) → {raw int: label}.
    #: The reference's dbcppp parses but never consumes these; we expose
    #: them as optional enum-label rendering (DecodeCompiler.enum_expr).
    value_tables: dict[tuple[int, str], dict[int, str]] = field(default_factory=dict)

    def by_id(self) -> dict[int, MessageSpec]:
        return {m.can_id: m for m in self.messages}

    def all_signals(self) -> list[tuple[MessageSpec, SignalSpec]]:
        out: list[tuple[MessageSpec, SignalSpec]] = []
        for m in self.messages:
            for s in m.signals:
                out.append((m, s))
        return out

    def known_ids(self) -> list[int]:
        return [m.can_id for m in self.messages]
