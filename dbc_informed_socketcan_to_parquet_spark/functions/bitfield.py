"""Bit-field extraction and IEEE-754 reinterpret as Spark SQL text.

The reference extracts each signal's bit-field from the 8-byte CAN payload
in C (delegated to dbcppp ``Decode``, /root/reference/src/decoder.cpp:76-129)
and hand-rolls a float32 reinterpret (/root/reference/src/custom_types.cpp:42-110).
Here both are *driver-side generated expressions* over built-in Spark SQL
functions — they run JVM-side inside WholeStageCodegen, no Python in the
hot path.  A pandas-UDF ``struct.unpack`` oracle lives in ``tests/`` only.

Every function here takes the SQL text of its operand and returns SQL text, so
the decoder applies a whole projection with one ``selectExpr`` call — about
one JVM call per output column — instead of one JVM call (plus a Python
call-site capture) per Column method.  :func:`ieee754_float32` is the one
Column-returning form: ``F.expr`` of :func:`ieee754_float32_sql`.

Representation choice: the 8-byte payload is carried as a signed 64-bit
long whose *bit pattern* equals the unsigned payload word (Java long
arithmetic wraps, so ``b7 << 56`` with the top bit set is simply the right
bit pattern).  ``DecodeCompiler.decode_wide`` materialises that word once
per frame as a column of its own projection (and the little-endian word as
a :func:`byteswap64` of that column), so per-signal extraction is shifts +
masks on a column reference and the plan grows linearly with DBC width.
The ``payload_*`` functions below embed the whole word subtree wherever
they are used; they serve one-off expressions over plain frames.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.functions.sqltext import double


def payload_be_u64(data: str) -> str:
    """Big-endian (Motorola) payload word: byte 0 is the most significant.

    Two 32-bit ``conv`` calls on the zero-padded hex rendering (each fits a
    long without sign trouble), recombined with a wrapping shift — the bit
    pattern of the unsigned word in a signed long.  Payloads shorter than
    8 bytes zero-pad on the right, matching the zeroed can_frame buffer.
    """
    h = f"rpad(hex({data}), 16, '0')"
    hi = f"CAST(conv(substring({h}, 1, 8), 16, 10) AS BIGINT)"
    lo = f"CAST(conv(substring({h}, 9, 8), 16, 10) AS BIGINT)"
    return f"(shiftleft({hi}, 32) | {lo})"


def payload_le_u64(data: str) -> str:
    """Little-endian (Intel) payload word: byte 0 is the least significant."""
    return byteswap64(payload_be_u64(data))


def byteswap64(word: str) -> str:
    """Reverse the byte order of a 64-bit word — pure integer shifts/masks,
    all JVM-side.  ``word`` appears eight times in the result, so pass a
    column reference, not a subtree."""
    out = "CAST(0 AS BIGINT)"
    for i in range(8):
        byte_i = f"(shiftrightunsigned({word}, {8 * (7 - i)}) & 255)"
        out = f"({out} | shiftleft({byte_i}, {8 * i}))"
    return out


def extract_bits(word: str, lsb: int, length: int) -> str:
    """Unsigned bit-field ``word[lsb + length - 1 : lsb]`` as a long.

    Uses ``shiftrightunsigned`` so the sign bit of the 64-bit carrier never
    leaks into the field; for ``length == 64`` the mask is the full word.
    """
    shifted = f"shiftrightunsigned({word}, {lsb})" if lsb else word
    if length >= 64:
        return shifted
    return f"({shifted} & {(1 << length) - 1})"


def sign_extend(raw: str, length: int) -> str:
    """Two's-complement sign extension of an unsigned ``length``-bit field."""
    if length >= 64:
        return raw
    return f"CASE WHEN ({raw} >= {1 << (length - 1)}) THEN ({raw} - {1 << length}) ELSE {raw} END"


def motorola_lsb(start_bit: int, length: int) -> int:
    """Map a DBC Motorola (big-endian) start bit to the LSB position within
    the big-endian payload word.

    DBC numbers bit ``b`` of byte ``i`` as ``8*i + b`` (b = 0 is the byte's
    LSB); a Motorola signal starts at its MSB and runs toward lower bit
    numbers, wrapping to the next byte's bit 7.  In the big-endian 64-bit
    word (byte 0 = bits 63..56) that layout is contiguous, with
    ``msb_pos = (7 - start_byte) * 8 + bit_in_byte``.
    """
    msb_pos = (7 - start_bit // 8) * 8 + (start_bit % 8)
    return msb_pos - (length - 1)


def ieee754_float32_sql(u32: str) -> str:
    """Reinterpret a 32-bit pattern (carried in a long) as IEEE-754 float32.

    Arithmetic decode — sign/exponent/mantissa split, with subnormal,
    ±Inf and NaN branches — mirroring the semantics of the reference's
    byte-level reinterpret (/root/reference/src/custom_types.cpp:87-110)
    without any UDF.  Returns DoubleType (exact superset of float32 values);
    callers cast to ``float`` for the column type.
    """
    sign = f"CASE WHEN ((shiftrightunsigned({u32}, 31) & 1) = 1) THEN {double(-1.0)} ELSE {double(1.0)} END"
    exp = f"(shiftrightunsigned({u32}, 23) & 255)"
    man = f"({u32} & {0x7FFFFF})"
    frac = f"(CAST({man} AS DOUBLE) / {double(1 << 23)})"
    normal = (
        f"(({sign} * ({double(1.0)} + {frac}))"
        f" * pow({double(2.0)}, (CAST({exp} AS DOUBLE) - {double(127.0)})))"
    )
    subnormal = f"(({sign} * {frac}) * {double(2.0 ** -126)})"
    inf_or_nan = f"CASE WHEN ({man} = 0) THEN ({sign} * {double(float('inf'))}) ELSE {double(float('nan'))} END"
    return f"CASE WHEN ({exp} = 255) THEN {inf_or_nan} WHEN ({exp} = 0) THEN {subnormal} ELSE {normal} END"


def ieee754_float32(u32: str) -> Column:
    """Column form of :func:`ieee754_float32_sql`; ``u32`` is SQL text."""
    return F.expr(ieee754_float32_sql(u32))
