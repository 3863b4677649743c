"""Seeded input generators for the benchmark.

Everything here is plain Python: the inputs and the expected answers the
checker needs are produced together from one ``random.Random(seed)``, so
the same seed always gives the same DBC text, candump log, live frame
schedule and corpus.  Nothing here imports Spark or the package under test.
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass, field

N_MESSAGES = 8
MUX_MESSAGE = 3  # index of the one multiplexed message
UNKNOWN_SHARE = 0.05
MALFORMED_SHARE = 0.001
EPOCH0 = 1_700_000_000
#: the CAN workloads share one network; the run seed drives the traffic
NETWORK_SEED = 64

_FACTORS = ((1.0, 0.0), (0.1, 0.0), (0.25, -40.0), (0.01, 0.5), (2.0, 100.0), (1.0, -10.0))
_LENGTHS = (1, 4, 7, 8, 10, 12, 16)


@dataclass(frozen=True)
class Sig:
    name: str
    lsb: int  # bit position of the field's LSB inside its byte-order word
    length: int
    big_endian: bool
    signed: bool
    factor: float
    offset: float
    mux_value: int | None = None

    @property
    def kind(self) -> str:
        """Output column kind, by the DBC typing rules the decoder documents:
        1 bit -> bool, unit factor and integral offset -> int, else float32."""
        if self.length == 1:
            return "bool"
        if self.factor == 1.0 and float(self.offset).is_integer():
            return "int"
        return "float32"

    @property
    def start_bit(self) -> int:
        if not self.big_endian:
            return self.lsb
        msb = self.lsb + self.length - 1  # position in the big-endian word
        return (7 - msb // 8) * 8 + msb % 8

    def phys(self, raw: int):
        if self.signed and raw >= 1 << (self.length - 1):
            raw -= 1 << self.length
        if self.kind == "bool":
            return raw != 0
        if self.kind == "int":
            return int(raw + self.offset)
        return float(raw) * self.factor + self.offset


@dataclass(frozen=True)
class Msg:
    can_id: int
    name: str
    big_endian: bool
    signals: tuple[Sig, ...]
    mux: Sig | None = None
    weight: float = 1.0


@dataclass
class Network:
    messages: tuple[Msg, ...]
    dbc_text: str
    columns: list[str] = field(default_factory=list)  # signal columns, DBC order
    kinds: dict[str, str] = field(default_factory=dict)


def _layout(rng: random.Random, names: list[str], bits_from: int, big_endian: bool,
            mux_value: int | None) -> list[Sig]:
    sigs, pos, left = [], bits_from, len(names)
    for name in names:
        room = 64 - pos - (left - 1)
        length = min(rng.choice(_LENGTHS), room)
        factor, offset = rng.choice(_FACTORS)
        signed = length > 1 and rng.random() < 0.4
        # Intel fields fill upward from the word's LSB; Motorola fields fill
        # downward from the big-endian word's MSB (DBC start bit 7).
        lsb = pos if not big_endian else 64 - pos - length
        sigs.append(Sig(name, lsb, length, big_endian, signed, factor, offset, mux_value))
        pos += length
        left -= 1
    return sigs


def make_network(rng: random.Random, n_signals: int) -> Network:
    """``N_MESSAGES`` messages carrying ``n_signals`` signals between them;
    even messages Intel, odd Motorola, one multiplexed message, VAL_ tables."""
    per_msg = [n_signals // N_MESSAGES + (i < n_signals % N_MESSAGES) for i in range(N_MESSAGES)]
    ids = sorted(rng.sample(range(0x100, 0x600), N_MESSAGES))
    weights = [2.0, 1.5, 1.0, 1.0, 1.0, 0.5, 0.5, 0.5]
    messages, lines, vals = [], ['VERSION ""', "", "BU_: ECU", ""], []
    for i, (can_id, n) in enumerate(zip(ids, per_msg)):
        big = i % 2 == 1
        names = [f"M{i}S{j}" for j in range(n)]
        mux = None
        if i == MUX_MESSAGE:
            # 2-bit switch at the bottom of the word; half the signals are
            # carried when the switch reads 0, the other half when it reads 1
            mux = Sig(f"M{i}Mode", 0 if not big else 62, 2, big, False, 1.0, 0.0)
            half = n // 2
            sigs = _layout(rng, names[:half], 2, big, 0) + _layout(rng, names[half:], 2, big, 1)
        else:
            sigs = _layout(rng, names, 0, big, None)
        msg = Msg(can_id, f"Msg{i}", big, tuple(sigs), mux, weights[i])
        messages.append(msg)
        lines.append(f"BO_ {can_id} {msg.name}: 8 ECU")
        for s in ([mux] if mux else []) + sigs:
            tag = "M " if s is mux else (f"m{s.mux_value} " if s.mux_value is not None else "")
            order = "0" if s.big_endian else "1"
            sign = "-" if s.signed else "+"
            lines.append(
                f' SG_ {s.name} {tag}: {s.start_bit}|{s.length}@{order}{sign} '
                f'({s.factor:g},{s.offset:g}) [0|0] "" ECU'
            )
            if s is not mux and s.kind == "int" and not s.signed and s.length <= 4:
                labels = " ".join(f'{v} "S{v}"' for v in range(1 << s.length))
                vals.append(f"VAL_ {can_id} {s.name} {labels} ;")
        lines.append("")
    text = "\n".join(lines + vals) + "\n"
    net = Network(tuple(messages), text)
    for m in messages:
        for s in m.signals:
            net.columns.append(s.name)
            net.kinds[s.name] = s.kind
    return net


def encode(msg: Msg, rng: random.Random) -> tuple[str, dict[str, object]]:
    """Random payload for ``msg``: (16-hex-digit payload, decoded signals)."""
    word, values = 0, {}
    switch = None
    if msg.mux is not None:
        switch = rng.randrange(2)
        word |= switch << msg.mux.lsb
    for s in msg.signals:
        if s.mux_value is not None and s.mux_value != switch:
            continue
        raw = rng.getrandbits(s.length)
        word |= raw << s.lsb
        values[s.name] = s.phys(raw)
    data = word.to_bytes(8, "big" if msg.big_endian else "little")
    return data.hex().upper(), values


_MALFORMED = (
    "({ts}) can0 {cid}#GG00",
    "({ts} can0 {cid}#0011",
    "garbage line {cid}",
    "(abc.def) can0 {cid}#00",
    "({ts}) can0 {cid}-0011",
    "",
)


@dataclass
class CandumpLog:
    text: str
    lines: int
    parsed: int      # lines the parser should accept
    known: int       # parsed lines whose id is in the DBC
    t0: float        # min epoch seconds over parsed lines
    frames: list[tuple[float, dict[str, object]]]  # (Time_ms, values) of known frames, time order


def make_log(rng: random.Random, net: Network, rate_hz: int, seconds: float) -> CandumpLog:
    """A time-ordered ``candump -l`` log: ``rate_hz`` frames/s for
    ``seconds`` s, ``UNKNOWN_SHARE`` unknown ids, ``MALFORMED_SHARE``
    malformed lines.  Stamps are unique microseconds."""
    n = int(rate_hz * seconds)
    stamps = sorted(rng.sample(range(int(seconds * 1_000_000)), n))
    known_ids = {m.can_id for m in net.messages}
    unknown_ids = [i for i in rng.sample(range(0x600, 0x7FF), 6) if i not in known_ids]
    weights = [m.weight for m in net.messages]
    out, frames = [], []
    parsed = known = 0
    t0 = None
    for us in stamps:
        ts_text = f"{EPOCH0 + us // 1_000_000}.{us % 1_000_000:06d}"
        r = rng.random()
        if r < MALFORMED_SHARE:
            out.append(rng.choice(_MALFORMED).format(ts=ts_text, cid="1A0"))
            continue
        parsed += 1
        ts = float(ts_text)
        t0 = ts if t0 is None else min(t0, ts)
        if r < MALFORMED_SHARE + UNKNOWN_SHARE:
            out.append(f"({ts_text}) can0 {rng.choice(unknown_ids):03X}#{rng.getrandbits(64):016X}")
            continue
        msg = rng.choices(net.messages, weights)[0]
        payload, values = encode(msg, rng)
        out.append(f"({ts_text}) can0 {msg.can_id:03X}#{payload}")
        frames.append((ts, values))
        known += 1
    frames = [((ts - t0) * 1000.0, v) for ts, v in frames]
    return CandumpLog("\n".join(out) + "\n", len(out), parsed, known, t0, frames)


# -- corpus ------------------------------------------------------------------

_STOP = ("the", "and", "of", "to", "is", "in", "that", "it", "for", "on", "with", "as")


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = rng.randint(3, 9)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(k)))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str]) -> str:
    sentences = []
    for _ in range(rng.randint(4, 9)):
        words = []
        for _ in range(rng.randint(8, 16)):
            words.append(rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(vocab))
        sentences.append(" ".join(words).capitalize() + ".")
    lines, cur = [], []
    for s in sentences:
        cur.append(s)
        if len(cur) == 3:
            lines.append(" ".join(cur))
            cur = []
    if cur:
        lines.append(" ".join(cur))
    return "\n".join(lines)


@dataclass
class Corpus:
    rows: list[tuple[int, str]]   # (doc_id, text)
    exact_dups: set[int]          # injected byte-identical copies (higher id than the original)
    near_dups: set[int]           # injected one-word edits


def make_corpus(rng: random.Random, n_base: int, exact_share: float = 0.05,
                near_share: float = 0.05) -> Corpus:
    """``n_base`` distinct docs, then a seeded share of exact and near
    duplicates appended with fresh, higher ids, so the min-id survivor of
    each exact group is always the original."""
    vocab = _vocab(rng, 4000)
    rows = [(i, _doc(rng, vocab)) for i in range(n_base)]
    exact, near = set(), set()
    next_id = n_base
    for _ in range(int(n_base * exact_share)):
        src = rng.randrange(n_base)
        rows.append((next_id, rows[src][1]))
        exact.add(next_id)
        next_id += 1
    for _ in range(int(n_base * near_share)):
        src = rng.randrange(n_base)
        words = rows[src][1].split(" ")
        k = rng.randrange(len(words))
        words[k] = rng.choice(vocab)
        rows.append((next_id, " ".join(words)))
        near.add(next_id)
        next_id += 1
    order = list(range(len(rows)))
    rng.shuffle(order)
    return Corpus([rows[i] for i in order], exact, near)


# -- live schedule -----------------------------------------------------------

def live_payloads(rng: random.Random, net: Network, n: int) -> list[tuple[int, str, dict[str, object]]]:
    """``n`` known frames (can_id, payload hex, values) in send order; the
    live generator stamps them with their scheduled send time."""
    weights = [m.weight for m in net.messages]
    out = []
    for _ in range(n):
        msg = rng.choices(net.messages, weights)[0]
        payload, values = encode(msg, rng)
        out.append((msg.can_id, payload, values))
    return out


def schedule(phases: list[tuple[int, float]]) -> list[float]:
    """Offsets (s) of every frame of an open-loop schedule of
    ``(rate_hz, seconds)`` phases, evenly spaced within each phase."""
    out, t = [], 0.0
    for rate, secs in phases:
        n = int(rate * secs)
        out.extend(t + k / rate for k in range(n))
        t += secs
    return out
