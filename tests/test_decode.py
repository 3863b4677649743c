"""T3/T4/T5 decode tests: golden hand-computed frames, a cantools-free
pandas oracle (struct.unpack), and Hypothesis round-trip properties
(encode value → payload → decode == identity within factor/offset
quantization) — SURVEY.md §5 strategy."""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc_text
from dbc_informed_socketcan_to_parquet_spark.dbc.spec import DbcSpec, SignalSpec
from dbc_informed_socketcan_to_parquet_spark.functions.candump import parse_candump_lines

from tests.conftest import TINY_DBC_TEXT, f32_bits, le_line, spark_jobs


def _decode(spark, spec, lines):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    frames = parse_candump_lines(df)
    return DecodeCompiler(spec).decode_wide(frames).orderBy("Time_ms").collect()


def test_golden_decode(spark, tiny_spec):
    p1 = 1000 | (0xFFFB << 16) | (1 << 32)          # speed=1000raw, torque=-5, active
    d2 = bytearray(struct.pack("<Q", f32_bits(3.14)))
    d2[5] = 0x7F                                      # SensB raw 0x7F at byte5 (BE @47)
    p3 = 1 | (42 << 8)                                # mux switch 1 → MuxB=42
    rows = _decode(spark, tiny_spec, [
        le_line(1.0, 0x100, p1),
        f"(2.000000) vcan0 101#{bytes(d2).hex().upper()}",
        le_line(3.0, 0x102, p3),
    ])
    r1, r2, r3 = rows
    assert r1.EngSpeed == 1000 * 0.5 - 100 and r1.EngTorque == -5 and r1.EngActive is True
    assert abs(r2.SensA - 3.14) < 1e-6 and r2.SensB == 2.0 * 0x7F
    assert r3.MuxA is None and r3.MuxB == 42 and r3.EngSpeed is None


def test_dbc_text_parser_equals_spec(tiny_spec):
    parsed = parse_dbc_text(TINY_DBC_TEXT)
    assert [m.can_id for m in parsed.messages] == [m.can_id for m in tiny_spec.messages]
    for pm, sm in zip(parsed.messages, tiny_spec.messages):
        assert [s.name for s in pm.signals] == [s.name for s in sm.signals]
        for ps, ss in zip(pm.signals, sm.signals):
            assert (ps.start_bit, ps.bit_length, ps.byte_order, ps.is_signed,
                    ps.factor, ps.offset, ps.mux_switch_value) == (
                ss.start_bit, ss.bit_length, ss.byte_order, ss.is_signed,
                ss.factor, ss.offset, ss.mux_switch_value)
    assert parsed.messages[2].mux_switch is not None
    assert parsed.messages[2].mux_switch.name == "MuxSwitch"


def test_type_inference_rules(tiny_spec):
    # §1.2 with intent-fixed integer branch (SURVEY §7.4)
    tags = {s.column_name: s.type_tag for _, s in tiny_spec.all_signals()}
    assert tags["EngSpeed"] == "float32"      # factor 0.5, 12 bits < 32
    assert tags["EngTorque"] == "int32"       # factor 1, ≤32 bits
    assert tags["EngActive"] == "bool"        # 1 bit
    assert tags["SensA"] == "float32"         # flt32_ reinterpret, prefix stripped
    assert tags["SensB"] == "float32"         # factor 2, 8 bits


def test_unsigned_32bit_gets_int64(spark):
    """u32 raw ≥ 2^31 must not wrap in an int32 column — unsigned fields
    need one more bit than signed for the same length."""
    from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
    from dbc_informed_socketcan_to_parquet_spark.dbc.spec import DbcSpec, MessageSpec, SignalSpec

    u32 = SignalSpec("Counter", 0, 32, "little", False, 1.0, 0.0)
    s32 = SignalSpec("Delta", 32, 32, "little", True, 1.0, 0.0)
    assert u32.type_tag == "int64"
    assert s32.type_tag == "int32"

    spec = DbcSpec(messages=(MessageSpec(0x200, "CNT", 8, (u32, s32)),))
    comp = DecodeCompiler(spec)
    hi = 0xFFFF_FFF0  # > 2^31: wraps negative if cast to int
    frames = spark.createDataFrame(
        [(0x200, hi.to_bytes(4, "little") + (5).to_bytes(4, "little", signed=True))],
        "can_id long, data binary",
    )
    row = frames.select(
        comp.phys_expr(u32, spec.messages[0]).alias("Counter"),
        comp.phys_expr(s32, spec.messages[0]).alias("Delta"),
    ).first()
    assert row.Counter == hi and row.Delta == 5


@given(
    raw=st.integers(min_value=0, max_value=(1 << 12) - 1),
    torque=st.integers(min_value=-(1 << 15), max_value=(1 << 15) - 1),
)
@settings(max_examples=12, deadline=None)
def test_roundtrip_property(spark, tiny_spec, raw, torque):
    payload = raw | ((torque & 0xFFFF) << 16)
    rows = _decode(spark, tiny_spec, [le_line(1.0, 0x100, payload)])
    assert rows[0].EngSpeed == pytest.approx(raw * 0.5 - 100.0, abs=1e-4)
    assert rows[0].EngTorque == torque


@given(x=st.floats(width=32, allow_nan=False, allow_infinity=False))
@settings(max_examples=15, deadline=None)
def test_float32_reinterpret_matches_struct_unpack(spark, x):
    """Expression IEEE-754 decode vs the Python oracle, incl. subnormals."""
    bits = f32_bits(x)
    expected = struct.unpack("<f", struct.pack("<I", bits))[0]
    spec = SignalSpec("flt32_v", 0, 32, "little", False, 1.0, 0.0)
    comp = DecodeCompiler(DbcSpec())
    df = spark.createDataFrame([(struct.pack("<I", bits) + b"\x00" * 4,)], "data binary")
    got = df.select(comp.phys_expr(spec).alias("v")).collect()[0].v
    assert got == pytest.approx(expected, rel=1e-6) or (got == 0.0 and expected == 0.0)


def test_float32_special_values(spark):
    comp = DecodeCompiler(DbcSpec())
    spec = SignalSpec("flt32_v", 0, 32, "little", False, 1.0, 0.0)
    cases = {
        float("inf"): struct.pack("<I", 0x7F800000),
        float("-inf"): struct.pack("<I", 0xFF800000),
        0.0: struct.pack("<I", 0),
    }
    for expected, payload in cases.items():
        df = spark.createDataFrame([(payload + b"\x00" * 4,)], "data binary")
        got = df.select(comp.phys_expr(spec).alias("v")).collect()[0].v
        assert got == expected
    nan_df = spark.createDataFrame([(struct.pack("<I", 0x7FC00000) + b"\x00" * 4,)], "data binary")
    assert math.isnan(nan_df.select(comp.phys_expr(spec).alias("v")).collect()[0].v)


def test_motorola_bit_numbering(spark):
    """BE start-bit remap (SURVEY §7.3 hard part): a 16-bit Motorola signal
    at DBC start 7 spans data bytes 0-1 MSB-first."""
    spec = DbcSpec()
    sig = SignalSpec("BeVal", 7, 16, "big", False, 1.0, 0.0)
    df = spark.createDataFrame([(bytes([0x12, 0x34, 0, 0, 0, 0, 0, 0]),)], "data binary")
    got = df.select(DecodeCompiler(spec).phys_expr(sig).alias("v")).collect()[0].v
    assert got == 0x1234


def test_val_enum_rendering(spark):
    """VAL_ value tables → enum label strings (unmapped values fall back
    to the raw number)."""
    from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc_text

    spec = parse_dbc_text(
        TINY_DBC_TEXT + '\nVAL_ 258 MuxA 0 "OFF" 1 "ON" 2 "FAULT" ;\n'
    )
    assert spec.value_tables[(0x102, "MuxA")] == {0: "OFF", 1: "ON", 2: "FAULT"}
    comp = DecodeCompiler(spec)
    mux_msg = next(m for m in spec.messages if m.can_id == 0x102)
    mux_a = next(s for s in mux_msg.signals if s.name == "MuxA")
    df = spark.createDataFrame(
        [(0x102, bytes([0, 1, 0, 0, 0, 0, 0, 0])),    # MuxA raw = 1 → "ON"
         (0x102, bytes([0, 9, 0, 0, 0, 0, 0, 0]))],   # raw 9 unmapped → "9"
        "can_id long, data binary",
    )
    got = [r.label for r in df.select(comp.enum_expr(mux_a, mux_msg).alias("label")).collect()]
    assert got == ["ON", "9"]


def test_decode_audit_funnel(spark, tiny_spec):
    """decode_audit counts the chain's silent loss points: malformed
    lines at parse, unknown CAN ids at the DBC filter — the losses the
    reference discards without a trace (fileInput.cpp:16-31,
    decoder.cpp:77-79)."""
    from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import decode_audit

    lines = spark.createDataFrame(
        [
            (le_line(1.0, 0x100, 0x0123),),     # known id -> decodes
            (le_line(1.1, 0x101, 0x0456),),     # known id -> decodes
            (le_line(1.2, 0x7FF, 0x0789),),     # unknown id -> dropped
            ("this is not a candump line",),     # malformed -> dropped
            ("(1.3) vcan0 100!DEADBEEF",),       # bad separator -> dropped
        ],
        "value string",
    )
    funnel = {r.stage: r for r in decode_audit(lines, tiny_spec).collect()}
    assert funnel["parse"].rows_in == 5
    assert funnel["parse"].dropped == 2
    assert funnel["known_id"].rows_in == funnel["parse"].rows_out == 3
    assert funnel["known_id"].dropped == 1
    assert funnel["known_id"].rows_out == 2


def test_decode_audit_runs_the_chain_once(spark, tiny_spec):
    """decode_audit observes its three counts on one pass of the chain:
    at most 2 Spark jobs with the funnel's own collect (7 with a count
    job per stage)."""
    from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import decode_audit

    lines = spark.createDataFrame(
        [(le_line(1.0, 0x100, 0x0123),), (le_line(1.2, 0x7FF, 0x0789),), ("garbage",)],
        "value string",
    )
    with spark_jobs(spark) as jobs:
        funnel = {r.stage: (r.rows_in, r.rows_out) for r in decode_audit(lines, tiny_spec).collect()}
    assert funnel == {"parse": (3, 2), "known_id": (2, 1)}
    assert jobs.n <= 2
