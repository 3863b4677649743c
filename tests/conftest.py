from __future__ import annotations

import contextlib
import os
import struct
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbc_informed_socketcan_to_parquet_spark.dbc.spec import DbcSpec, MessageSpec, SignalSpec
from dbc_informed_socketcan_to_parquet_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_spec() -> DbcSpec:
    """3-message DBC: scaled LE, signed LE, bool, flt32 reinterpret,
    Motorola BE, multiplexed pair — every type-rule branch."""
    return DbcSpec(
        messages=(
            MessageSpec(0x100, "ENGINE", 8, (
                SignalSpec("EngSpeed", 0, 12, "little", False, 0.5, -100.0),
                SignalSpec("EngTorque", 16, 16, "little", True, 1.0, 0.0),
                SignalSpec("EngActive", 32, 1, "little", False, 1.0, 0.0),
            )),
            MessageSpec(0x101, "SENSOR", 8, (
                SignalSpec("flt32_SensA", 0, 32, "little", False, 1.0, 0.0),
                SignalSpec("SensB", 47, 8, "big", False, 2.0, 0.0),
            )),
            MessageSpec(0x102, "MUX", 8, (
                SignalSpec("MuxA", 8, 8, "little", False, 1.0, 0.0, mux_switch_value=0),
                SignalSpec("MuxB", 8, 8, "little", False, 1.0, 0.0, mux_switch_value=1),
            ), mux_switch=SignalSpec("MuxSwitch", 0, 4, "little", False, 1.0, 0.0)),
        )
    )


TINY_DBC_TEXT = """
VERSION ""
BO_ 256 ENGINE: 8 ECU
 SG_ EngSpeed : 0|12@1+ (0.5,-100) [0|2000] "rpm" X
 SG_ EngTorque : 16|16@1- (1,0) [-500|500] "Nm" X
 SG_ EngActive : 32|1@1+ (1,0) [0|1] "" X
BO_ 257 SENSOR: 8 ECU
 SG_ flt32_SensA : 0|32@1+ (1,0) [0|0] "" X
 SG_ SensB : 47|8@0+ (2,0) [0|510] "" X
BO_ 258 MUX: 8 ECU
 SG_ MuxSwitch M : 0|4@1+ (1,0) [0|15] "" X
 SG_ MuxA m0 : 8|8@1+ (1,0) [0|255] "" X
 SG_ MuxB m1 : 8|8@1+ (1,0) [0|255] "" X
"""


def wide_spec(n_messages: int) -> DbcSpec:
    """``n_messages`` × 8 one-byte signals (ids 0x200 up): even messages
    Intel, odd ones Motorola; odd bytes signed, every fourth byte scaled.
    Signal ``j`` of a message is payload byte ``j``."""
    messages = []
    for m in range(n_messages):
        order = "little" if m % 2 == 0 else "big"
        signals = []
        for j in range(8):
            start = 8 * j if order == "little" else 8 * j + 7   # Motorola: MSB of byte j
            factor, offset = (0.5, -3.0) if j % 4 == 2 else (1.0, 0.0)
            signals.append(SignalSpec(f"M{m}_S{j}", start, 8, order, j % 2 == 1, factor, offset))
        messages.append(MessageSpec(0x200 + m, f"MSG{m}", 8, tuple(signals)))
    return DbcSpec(messages=tuple(messages))


def le_line(ts: float, can_id: int, payload: int) -> str:
    """Render a candump line from a little-endian payload word."""
    return f"({ts:.6f}) vcan0 {can_id:X}#{struct.pack('<Q', payload).hex().upper()}"


def f32_bits(x: float) -> int:
    return struct.unpack("<I", struct.pack("<f", x))[0]


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs the block starts: job ids are sequential, so
    the count is the newest id after minus the newest id before, read
    from the status tracker once the listener bus has drained.  Yields
    an object whose ``n`` holds the count after the block."""
    sc = spark.sparkContext

    def newest_job() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    jobs = types.SimpleNamespace(n=0)
    first = newest_job()
    yield jobs
    jobs.n = newest_job() - first
