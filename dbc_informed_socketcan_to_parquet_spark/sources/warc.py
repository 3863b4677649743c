"""WARC ingest — the wire format of web crawls (ISO 28500 / WARC 1.0-1.1).

A north-star source beyond the reference's surface (its inputs are
candump/SocketCAN/parquet — SURVEY §2.1; cited parser:
/root/reference/src/inputs/fileInput.cpp:16-31 is the analogous
line-oriented file front door): Common Crawl and every in-house crawler
hand off concatenated WARC records, usually one gzip member per record.
With round-9's ``htmlops.extract_text`` this completes the crawl chain:
WARC file → response records → HTTP body → HTML → text → curate.

Scale shape: a **PySpark Python Data Source** (Spark 4 API) whose unit
of parallelism is the WARC *file* — exactly how a 100 TB crawl is laid
out (tens of thousands of ~1 GB segment files).  Each task STREAMS its
file through a multi-member ``gzip.GzipFile`` and yields one row per
record; memory is bounded by ``max_content_length`` (oversized payloads
are skipped, never buffered), not by file size.  No whole-file
``binaryFile`` materialization, no driver-side listing beyond the one
glob that any file source performs.

Robustness doctrine (same as sources/jsonl.py): a malformed record in
segment 40k of 50k must neither kill the job nor vanish silently — rows
carry a ``parse_ok`` flag and a truncated-tail record simply ends that
file's iteration.

The record-level core (``iter_warc_records`` / ``parse_http_response``)
is plain Python shared verbatim by the file reader and by the
column-level Arrow kernel ``warc_record_decode`` (one WARC record blob
per row → typed struct), which is what the oracle-paired registry entry
exercises.
"""

from __future__ import annotations

import codecs
import glob as _glob
import gzip
import io
import os
import re
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: Output schema of the ``warc`` data source (one row per WARC record).
WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("parse_ok", T.BooleanType()),
        T.StructField("warc_file", T.StringType()),
    ]
)

_GZIP_MAGIC = b"\x1f\x8b"
_DEFAULT_MAX_CONTENT = 8 * 1024 * 1024  # skip payloads larger than 8 MiB


# ---------------------------------------------------------------------------
# record-level core (shared: file reader + Arrow kernel)
# ---------------------------------------------------------------------------

def _read_line(stream) -> bytes:
    """One header line (file.readline is fine on GzipFile and BufferedReader)."""
    return stream.readline()


def iter_warc_records(
    stream,
    max_content_length: int = _DEFAULT_MAX_CONTENT,
) -> Iterator[dict]:
    """Stream WARC records off a binary file-like object.

    Yields ``{"headers": {lower-name: value}, "payload": bytes | None,
    "oversized": bool}`` per record; ``payload is None`` iff the record
    exceeded ``max_content_length`` (its bytes are seek-skipped, never
    held).  Stops at EOF or at the first structurally-broken record (a
    missing/invalid Content-Length makes every later offset untrusted).
    Header names fold to lower-case; obs-fold continuation lines (SP/TAB
    prefix, RFC 7230 §3.2.4 as referenced by the WARC spec) are joined.
    """
    while True:
        # -- version line (tolerate blank padding between records)
        line = _read_line(stream)
        while line in (b"\r\n", b"\n"):
            line = _read_line(stream)
        if not line:
            return  # clean EOF
        if not line.startswith(b"WARC/"):
            return  # desynchronized: stop rather than emit garbage rows
        # -- headers
        headers: dict[str, str] = {}
        last_name = None
        while True:
            line = _read_line(stream)
            if line in (b"\r\n", b"\n", b""):
                break
            raw = line.decode("latin-1").rstrip("\r\n")
            if raw[:1] in (" ", "\t") and last_name is not None:
                headers[last_name] += " " + raw.strip()
                continue
            name, sep, value = raw.partition(":")
            if not sep:
                continue  # not a header line; skip defensively
            last_name = name.strip().lower()
            headers[last_name] = value.strip()
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError
        except (KeyError, ValueError):
            return  # cannot locate the next record boundary — stop file
        # -- payload
        if length > max_content_length:
            _skip_exactly(stream, length)
            payload = None
        else:
            payload = stream.read(length)
            if len(payload) != length:
                return  # truncated tail
        # -- trailing CRLF CRLF (tolerate LF-only and EOF)
        _read_line(stream)
        _read_line(stream)
        yield {"headers": headers, "payload": payload,
               "oversized": payload is None}


def _skip_exactly(stream, n: int, chunk: int = 1 << 20) -> None:
    """Discard n bytes without buffering them (GzipFile has no seek-fwd
    cheaper than read; bounded chunks keep memory flat)."""
    while n > 0:
        got = stream.read(min(n, chunk))
        if not got:
            return
        n -= len(got)


_STATUS_RE = re.compile(rb"^HTTP/\d\.\d\s+(\d{3})")
_CHARSET_RE = re.compile(r"charset=[\"']?([\w.:-]+)", re.IGNORECASE)


def parse_http_response(payload: bytes):
    """Split an application/http payload → (status, headers, body).

    Returns ``(None, {}, payload)`` when the payload is not an HTTP
    message (e.g. a resource record) — the body is then the raw payload.
    """
    m = _STATUS_RE.match(payload)
    if not m:
        return None, {}, payload
    sep = payload.find(b"\r\n\r\n")
    seplen = 4
    if sep < 0:
        sep = payload.find(b"\n\n")
        seplen = 2
    if sep < 0:
        sep, seplen = len(payload), 0
    headers: dict[str, str] = {}
    for raw in payload[:sep].split(b"\n")[1:]:
        line = raw.decode("latin-1").rstrip("\r")
        name, s, value = line.partition(":")
        if s:
            headers[name.strip().lower()] = value.strip()
    return int(m.group(1)), headers, payload[sep + seplen:]


def decode_body(body: bytes, content_type: str | None) -> str:
    """Bytes → str via the Content-Type charset, utf-8(replace) fallback."""
    charset = "utf-8"
    if content_type:
        m = _CHARSET_RE.search(content_type)
        if m:
            charset = m.group(1)
    try:
        codecs.lookup(charset)
    except LookupError:
        charset = "utf-8"
    return body.decode(charset, errors="replace")


def _record_to_row(rec: dict, path: str) -> tuple:
    """One parsed record → a WARC_SCHEMA tuple (shared file/kernel path)."""
    h = rec["headers"]
    warc_ct = h.get("content-type", "")
    payload = rec["payload"]
    status, http_headers, body = None, {}, payload
    content_type = warc_ct or None
    text = None
    ok = not rec["oversized"]
    if payload is not None:
        if "application/http" in warc_ct.lower():
            status, http_headers, body = parse_http_response(payload)
            content_type = http_headers.get("content-type", content_type)
        text = decode_body(body, content_type)
    return (
        h.get("warc-type"),
        h.get("warc-record-id"),
        h.get("warc-target-uri"),
        h.get("warc-date"),
        content_type,
        status,
        int(h.get("content-length", 0)),
        text,
        ok,
        path,
    )


def _open_warc(path: str):
    """Binary stream for a plain or (multi-member) gzip WARC file."""
    f = open(path, "rb")
    magic = f.read(2)
    f.seek(0)
    if magic == _GZIP_MAGIC:
        return gzip.GzipFile(fileobj=f)
    return io.BufferedReader(f)


def iter_warc_file(
    path: str,
    record_types: frozenset[str] | None = frozenset({"response"}),
    html_only: bool = False,
    max_content_length: int = _DEFAULT_MAX_CONTENT,
) -> Iterator[tuple]:
    """All (filtered) rows of one WARC file, streaming."""
    with _open_warc(path) as stream:
        for rec in iter_warc_records(stream, max_content_length):
            wt = rec["headers"].get("warc-type", "")
            if record_types is not None and wt not in record_types:
                continue
            row = _record_to_row(rec, path)
            if html_only:
                ct = (row[4] or "").lower()
                if "text/html" not in ct and "application/xhtml" not in ct:
                    continue
            yield row


# ---------------------------------------------------------------------------
# Spark 4 Python Data Source: spark.read.format("warc")
# ---------------------------------------------------------------------------

class _WarcPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _list_warc_files(path: str) -> list[str]:
    """All *.warc / *.warc.gz under ``path`` (or the file itself)."""
    if os.path.isdir(path):
        pats = [os.path.join(path, "*.warc"), os.path.join(path, "*.warc.gz")]
    else:
        pats = [path]
    out: list[str] = []
    for p in pats:
        out.extend(_glob.glob(p))
    return sorted(set(out))


class _WarcOptions:
    """Shared option parsing for the batch and stream readers."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("warc source requires a path")
        types_opt = options.get("record_types", "response")
        self.record_types = (
            None if types_opt == "*"
            else frozenset(t.strip() for t in types_opt.split(",") if t.strip())
        )
        self.html_only = str(options.get("html_only", "false")).lower() == "true"
        self.max_content_length = int(
            options.get("max_content_length", _DEFAULT_MAX_CONTENT)
        )

    def read_file(self, path: str):
        return iter_warc_file(
            path,
            record_types=self.record_types,
            html_only=self.html_only,
            max_content_length=self.max_content_length,
        )


class WarcReader(DataSourceReader):
    """One InputPartition per WARC file — the crawl's natural work unit.

    At 100 TB (≈100k segment files) this plans 100k tasks, each a
    bounded-memory streaming scan; Spark's scheduler handles placement
    and AQE-free static parallelism is exactly right for a source whose
    per-file cost is uniform by construction (crawlers emit fixed-size
    segments).
    """

    def __init__(self, options):
        self.opts = _WarcOptions(options)

    def partitions(self):
        files = _list_warc_files(self.opts.path)
        if not files:
            raise FileNotFoundError(f"no WARC files match {self.opts.path!r}")
        return [_WarcPartition(p) for p in files]

    def read(self, partition: _WarcPartition):
        yield from self.opts.read_file(partition.path)


class WarcStreamReader(DataSourceStreamReader):
    """Micro-batch reader over a WARC landing directory.

    Offset = the sorted list of segment files already planned; each
    ``latestOffset`` re-lists the directory, ``partitions(start, end)``
    schedules exactly the new files, one executor-side streaming task
    per segment — arrival order does not matter (no name-monotonicity
    contract), so a late-delivered segment is never silently skipped.
    The landing contract is the usual one: write segments elsewhere and
    atomically rename them in.  The offset grows with the file count;
    for a continuously-landing crawl that is thousands of names per day
    — for a one-shot 100k-segment backfill use the batch
    ``ingest-warc`` path instead, which plans all files at once without
    offset bookkeeping.
    """

    def __init__(self, options):
        self.opts = _WarcOptions(options)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {"seen": _list_warc_files(self.opts.path)}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end.get("seen", [])) - set(start.get("seen", [])))
        return [_WarcPartition(p) for p in new]

    def read(self, partition: _WarcPartition):
        yield from self.opts.read_file(partition.path)

    def commit(self, end: dict) -> None:
        pass


class WarcDataSource(DataSource):
    """``spark.read.format("warc").load(path)`` after registration."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return WARC_SCHEMA

    def reader(self, schema) -> WarcReader:
        return WarcReader(self.options)

    def streamReader(self, schema) -> WarcStreamReader:
        return WarcStreamReader(self.options)


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: str = "response",
    html_only: bool = False,
    max_content_length: int = _DEFAULT_MAX_CONTENT,
) -> DataFrame:
    """Register (idempotently) and read: one row per WARC record."""
    spark.dataSource.register(WarcDataSource)
    return (
        spark.read.format("warc")
        .option("path", path)
        .option("record_types", record_types)
        .option("html_only", str(html_only).lower())
        .option("max_content_length", str(max_content_length))
        .load()
    )


def stream_warc(
    spark: SparkSession,
    path: str,
    record_types: str = "response",
    html_only: bool = False,
    max_content_length: int = _DEFAULT_MAX_CONTENT,
) -> DataFrame:
    """Streaming twin of :func:`read_warc`: micro-batches of newly-landed
    WARC segments (see :class:`WarcStreamReader` for the offset model)."""
    spark.dataSource.register(WarcDataSource)
    return (
        spark.readStream.format("warc")
        .option("path", path)
        .option("record_types", record_types)
        .option("html_only", str(html_only).lower())
        .option("max_content_length", str(max_content_length))
        .load()
    )


# ---------------------------------------------------------------------------
# column-level kernel: one WARC record blob per row → typed struct
# ---------------------------------------------------------------------------

_KERNEL_SCHEMA = T.StructType(
    [f for f in WARC_SCHEMA.fields if f.name not in ("parse_ok", "warc_file")]
)


def warc_record_decode(record: Column) -> Column:
    """Arrow-batched decode of a single serialized WARC record (binary or
    string column) → struct(warc_type, record_id, url, warc_date,
    content_type, http_status, content_length, text).

    Shares ``iter_warc_records``/``parse_http_response`` with the file
    source, so the registry's render→parse round-trip exercises the same
    byte-level code the crawl reader runs.  NULL in → NULL struct.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    names = [f.name for f in _KERNEL_SCHEMA.fields]

    def _one(blob):
        if blob is None:
            return (None,) * len(names)
        data = blob.encode("utf-8") if isinstance(blob, str) else bytes(blob)
        rec = next(iter_warc_records(io.BufferedReader(io.BytesIO(data))), None)
        if rec is None:
            return (None,) * len(names)
        return _record_to_row(rec, "")[: len(names)]

    def _kernel(s):
        rows = [_one(b) for b in s]
        return pd.DataFrame(rows, columns=names)

    _kernel.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    return pandas_udf(_kernel, _KERNEL_SCHEMA)(record)
