"""Wide-DBC regression: the documented ``--cache 10 --forward-fill``
conversion of a 256-signal network, under the suite's default JVM stack.

Plan size must grow linearly with DBC width.  A plan that grows as
signals × payload-word subtree, or that re-analyses itself once per column,
overflows the analyzer's stack at this width.  The expected table is
decoded here in plain Python from the generated payload bytes.
"""

from __future__ import annotations

import random

import pytest

from dbc_informed_socketcan_to_parquet_spark.dbc.spec import SignalSpec
from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import DecodePipeline, PipelineConfig
from tests.conftest import wide_spec

N_MESSAGES = 32          # × 8 one-byte signals = 256 signals
N_LINES = 2000           # ~1 s of log at 2 kHz
BASE_S = 1_700_000_000
CACHE_MS = 10


def _decode_byte(sig: SignalSpec, b: int) -> float:
    raw = b - 256 if sig.is_signed and b >= 128 else b
    return raw * sig.factor + sig.offset


def test_wide_dbc_cache_forward_fill(spark, tmp_path):
    spec = wide_spec(N_MESSAGES)
    rng = random.Random(256)
    lines, frames = [], []
    for i in range(N_LINES):
        # stamps in tenths of a ms, never on a bucket edge: line 0 sits at
        # the capture start, the rest 0.1 ms past each 0.5 ms tick
        t10 = 0 if i == 0 else 5 * i + 1
        m = i % N_MESSAGES
        payload = bytes(rng.randrange(256) for _ in range(8))
        micros = t10 * 100
        lines.append(f"({BASE_S}.{micros:06d}) vcan0 {0x200 + m:X}#{payload.hex().upper()}")
        frames.append((t10, m, payload))
    log = tmp_path / "wide.log"
    log.write_text("\n".join(lines) + "\n")

    # expected: last value per 10 ms bucket, then carried forward
    names = [s.column_name for _, s in spec.all_signals()]
    current: dict[str, float] = {}
    expected: dict[int, dict[str, float]] = {}
    for t10, m, payload in frames:
        for j, sig in enumerate(spec.messages[m].signals):
            current[sig.column_name] = _decode_byte(sig, payload[j])
        expected[t10 // (10 * CACHE_MS) * CACHE_MS] = dict(current)

    cfg = PipelineConfig(input_path=str(log), cache_ms=float(CACHE_MS), forward_fill=True)
    out = DecodePipeline(cfg, spec=spec).run_batch(spark)
    assert out.columns == ["Time_ms", *names]
    rows = out.collect()
    assert [r.Time_ms for r in rows] == sorted(expected)
    for r in rows:
        want = expected[r.Time_ms]
        got = r.asDict()
        for name in names:
            if name in want:
                assert got[name] == pytest.approx(want[name]), (r.Time_ms, name)
            else:
                assert got[name] is None, (r.Time_ms, name)
