"""Bit-field extraction and IEEE-754 reinterpret as pure Column algebra.

The reference extracts each signal's bit-field from the 8-byte CAN payload
in C (delegated to dbcppp ``Decode``, /root/reference/src/decoder.cpp:76-129)
and hand-rolls a float32 reinterpret (/root/reference/src/custom_types.cpp:42-110).
Here both are *driver-side generated expressions* over built-in
``pyspark.sql.functions`` — they run JVM-side inside WholeStageCodegen, no
Python in the hot path.  A pandas-UDF ``struct.unpack`` oracle lives in
``tests/`` only.

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


def payload_be_u64(data: Column) -> Column:
    """Big-endian (Motorola) payload word: byte 0 is the most significant.

    Two 32-bit ``conv`` calls on the zero-padded hex rendering (each fits a
    long without sign trouble), recombined with a wrapping shift — the bit
    pattern of the unsigned word in a signed long.  Payloads shorter than
    8 bytes zero-pad on the right, matching the zeroed can_frame buffer.
    """
    h = F.rpad(F.hex(data), 16, "0")
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def payload_le_u64(data: Column) -> Column:
    """Little-endian (Intel) payload word: byte 0 is the least significant."""
    return byteswap64(payload_be_u64(data))


def byteswap64(word: Column) -> Column:
    """Reverse the byte order of a 64-bit word — pure integer shifts/masks,
    all JVM-side.  ``word`` appears eight times in the result, so pass a
    column reference, not a subtree."""
    out = F.lit(0).cast("long")
    for i in range(8):
        byte_i = F.shiftrightunsigned(word, 8 * (7 - i)).bitwiseAND(F.lit(255))
        out = out.bitwiseOR(F.shiftleft(byte_i, 8 * i))
    return out


def extract_bits(word: Column, lsb: int, length: int) -> Column:
    """Unsigned bit-field ``word[lsb + length - 1 : lsb]`` as a long.

    Uses ``shiftrightunsigned`` so the sign bit of the 64-bit carrier never
    leaks into the field; for ``length == 64`` the mask is the full word.
    """
    shifted = F.shiftrightunsigned(word, lsb) if lsb else word
    if length >= 64:
        return shifted
    mask = (1 << length) - 1
    return shifted.bitwiseAND(F.lit(mask))


def sign_extend(raw: Column, length: int) -> Column:
    """Two's-complement sign extension of an unsigned ``length``-bit field."""
    if length >= 64:
        return raw
    sign_bit = 1 << (length - 1)
    full = 1 << length
    return F.when(raw >= F.lit(sign_bit), raw - F.lit(full)).otherwise(raw)


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


def ieee754_float32(u32: Column) -> Column:
    """Reinterpret a 32-bit pattern (carried in a long) as IEEE-754 float32.

    Arithmetic decode — sign/exponent/mantissa split, with subnormal,
    ±Inf and NaN branches — mirroring the semantics of the reference's
    byte-level reinterpret (/root/reference/src/custom_types.cpp:87-110)
    without any UDF.  Returns DoubleType (exact superset of float32 values);
    callers cast to ``float`` for the column type.
    """
    sign = F.when(F.shiftrightunsigned(u32, 31).bitwiseAND(F.lit(1)) == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    exp = F.shiftrightunsigned(u32, 23).bitwiseAND(F.lit(0xFF))
    man = u32.bitwiseAND(F.lit(0x7FFFFF))
    frac = man.cast("double") / F.lit(float(1 << 23))
    normal = sign * (F.lit(1.0) + frac) * F.pow(F.lit(2.0), exp.cast("double") - F.lit(127.0))
    subnormal = sign * frac * F.lit(2.0 ** -126)
    inf_or_nan = F.when(man == 0, sign * F.lit(float("inf"))).otherwise(F.lit(float("nan")))
    return (
        F.when(exp == 255, inf_or_nan)
        .when(exp == 0, subnormal)
        .otherwise(normal)
    )
