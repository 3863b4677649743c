"""Independent reference answers and output checks.

The references are computed in plain Python from the generator's own raw
values (never from the package under test): per-frame decode, last value
per 10 ms bucket, forward fill, and per-window last value for the live
stream.  Each check returns a list of problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import math
import os
import struct

import pyarrow.parquet as pq


def as_stored(kind: str, value):
    """The value as the output column stores it (float32 columns round)."""
    if value is None or kind != "float32":
        return value
    return struct.unpack("f", struct.pack("f", value))[0]


def _same(kind: str, got, want) -> bool:
    if want is None or got is None:
        return got is None and want is None
    if kind == "float32":
        return math.isclose(got, want, rel_tol=1e-6, abs_tol=1e-9)
    return got == want


def expected_raw(frames, columns):
    """cache 0: one row per known frame, NULL for signals it does not carry."""
    return [(t, [v.get(c) for c in columns]) for t, v in frames]


def expected_downsample(frames, columns, cache_ms: int, forward_fill: bool):
    """Last value per aligned ``cache_ms`` bucket, optionally carried forward."""
    rows, state, cur = [], {}, None
    for t, v in frames:
        b = int(math.floor(t / cache_ms)) * cache_ms
        if b != cur:
            if cur is not None:
                rows.append((cur, [state.get(c) for c in columns]))
            cur = b
            if not forward_fill:
                state = {}
        state.update(v)
    if cur is not None:
        rows.append((cur, [state.get(c) for c in columns]))
    return rows


def parquet_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) of a Parquet output directory."""
    size = files = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            files += 1
            size += os.path.getsize(os.path.join(path, name))
    return size, files


def check_table(path: str, expected, columns, kinds) -> list[str]:
    """Compare a Parquet output with ``expected`` rows ``(time, values)``."""
    table = pq.read_table(path)
    want_cols = ["Time_ms"] + columns
    if table.column_names != want_cols:
        return [f"columns {table.column_names[:4]}... != {want_cols[:4]}..."]
    data = table.to_pydict()
    order = sorted(range(table.num_rows), key=lambda i: data["Time_ms"][i])
    if len(order) != len(expected):
        return [f"{len(order)} rows, expected {len(expected)}"]
    problems = []
    for i, (t, values) in zip(order, expected):
        if not math.isclose(data["Time_ms"][i], t, rel_tol=0, abs_tol=1e-6):
            problems.append(f"row time {data['Time_ms'][i]} != {t}")
        for c, want in zip(columns, values):
            if not _same(kinds[c], data[c][i], as_stored(kinds[c], want)):
                problems.append(f"{c} at {t}: {data[c][i]!r} != {want!r}")
        if len(problems) > 5:
            break
    return problems


def expected_windows(frames, columns, width_ms: int = 10):
    """Live reference: per event-time window, the value with the latest
    millisecond stamp per signal (ties broken by the larger value), and the
    latest scheduled send time of any frame in the window."""
    wins: dict[int, dict] = {}
    last_sent: dict[int, float] = {}
    for ts, values in frames:
        ms = int(ts * 1000.0)
        w = ms // width_ms * width_ms
        cur = wins.setdefault(w, {})
        for c, v in values.items():
            key = (ms, v)
            if c not in cur or key > cur[c]:
                cur[c] = key
        last_sent[w] = max(last_sent.get(w, ts), ts)
    return {w: [cur[c][1] if c in cur else None for c in columns] for w, cur in wins.items()}, last_sent


def check_window(row: dict, want: list, columns, kinds) -> bool:
    return all(_same(kinds[c], row.get(c), as_stored(kinds[c], v)) for c, v in zip(columns, want))


def check_curated(path: str, input_ids: set[int], exact_dups: set[int]) -> tuple[list[str], int]:
    """Curation invariants: kept ids unique, kept within the input, and no
    injected exact duplicate kept.  Returns (problems, kept count)."""
    ids = pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()
    kept = set(ids)
    problems = []
    if len(kept) != len(ids):
        problems.append(f"{len(ids) - len(kept)} duplicate ids kept")
    if not kept <= input_ids:
        problems.append(f"{len(kept - input_ids)} kept ids not in the input")
    leaked = kept & exact_dups
    if leaked:
        problems.append(f"{len(leaked)} injected exact duplicates kept")
    if not kept:
        problems.append("nothing kept")
    return problems, len(ids)
