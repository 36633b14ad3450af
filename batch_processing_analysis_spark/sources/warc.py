"""WARC source (M172 — ISO 28500, the Web ARChive format crawl data
actually arrives in; CommonCrawl publishes every fetch as WARC):
read ``.warc`` / ``.warc.gz`` files into one row per record, and
parse record text into typed columns — the ingestion edge in front
of the crawl→corpus pipeline (M169 html_to_text consumes the
response payloads, M164/M166 governance consumes the target URIs).

Two layers:

- :func:`read_warc` — the BINARY path: ``binaryFile`` →
  ``mapInPandas``; per-record gzip members decompress via stdlib
  (``gzip`` reads concatenated members), records split by the SPEC's
  framing (header block to the first CRLFCRLF, ``Content-Length``
  octets of block, CRLFCRLF record separator) — never by scanning
  for ``WARC/`` magic, which legally appears inside payloads. Bytes
  decode latin-1 (lossless byte↔char) so downstream string ops see
  exact octets.
- :func:`parse_warc_fields` — the pure-codegen layer: one record
  STRING → (warc_type, target_uri, warc_date_ts, record_id,
  content_length, http_status, http_content_type, payload). Header
  names are case-insensitive (``(?im)`` anchored extracts); response
  records split their HTTP message at the nested CRLFCRLF (status
  from the status line, payload after the HTTP headers); non-HTTP
  records carry the whole block as payload. The same regexes re-run
  verbatim in the q181 DuckDB oracle.

Out of scope, documented: chunked transfer decoding inside stored
HTTP messages (CommonCrawl stores de-chunked), ``WARC-Truncated``
continuation reassembly, and per-record digests (verify via
``content_length`` vs ``length(payload)`` instead).
"""

from __future__ import annotations

import gzip
import io
import os
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

READ_SCHEMA = "path string, rec_idx int, record string"

# shared verbatim with the q181 DuckDB oracle
WARC_VERSION_RE = r"^WARC/([0-9.]+)"
WARC_HDR_BLOCK_RE = r"(?s)^(.*?)\r\n\r\n"
WARC_BLOCK_RE = r"(?s)\r\n\r\n(.*)$"
HTTP_STATUS_RE = r"(?s)^HTTP/[0-9.]+ +([0-9]{3})"
HTTP_BODY_RE = r"(?s)^HTTP/.*?\r\n\r\n(.*)$"


def _hdr(name: str) -> str:
    return rf"(?im)^{name}: *([^\r\n]*)"


def parse_warc_fields(df: DataFrame, col: str = "record") -> DataFrame:
    """Add typed columns to a frame of WARC record strings (see
    module docstring). Pure codegen — no UDF, no Python in the
    plan."""
    from ..operators.sitemaps import parse_w3c_datetime

    rec = F.col(col)
    head = F.regexp_extract(rec, WARC_HDR_BLOCK_RE, 1)
    block = F.regexp_extract(rec, WARC_BLOCK_RE, 1)
    is_http = block.startswith("HTTP/")
    return df.select(
        *df.columns,
        F.regexp_extract(rec, WARC_VERSION_RE, 1).alias("warc_version"),
        F.lower(F.regexp_extract(head, _hdr("WARC-Type"), 1))
        .alias("warc_type"),
        F.regexp_extract(head, _hdr("WARC-Target-URI"), 1)
        .alias("target_uri"),
        parse_w3c_datetime(
            F.regexp_extract(head, _hdr("WARC-Date"), 1))
        .alias("warc_date_ts"),
        F.regexp_extract(head, _hdr("WARC-Record-ID"), 1)
        .alias("record_id"),
        F.regexp_extract(head, _hdr("Content-Length"), 1)
        .try_cast("long").alias("content_length"),
        F.when(is_http, F.regexp_extract(block, HTTP_STATUS_RE, 1)
               .try_cast("int")).alias("http_status"),
        F.when(is_http, F.regexp_extract(
            block, _hdr("Content-Type"), 1)).otherwise("")
        .alias("http_content_type"),
        F.when(is_http, F.regexp_extract(block, HTTP_BODY_RE, 1))
        .otherwise(block).alias("payload"),
    )


def split_warc_records(data: bytes) -> list[bytes]:
    """Spec-framing record splitter (driver/executor-side helper):
    header block → Content-Length → skip block + CRLFCRLF. Exact —
    a payload containing the bytes ``WARC/1.0`` cannot confuse it.
    Raises on malformed framing (missing header terminator or
    Content-Length) rather than resynchronizing silently."""
    out: list[bytes] = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding newlines
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        end_hdr = data.find(b"\r\n\r\n", pos)
        if end_hdr < 0:
            raise ValueError(
                f"WARC framing: no header terminator after offset {pos}")
        head = data[pos:end_hdr]
        if not head.startswith(b"WARC/"):
            raise ValueError(
                f"WARC framing: record at offset {pos} does not start "
                f"with WARC/ (got {head[:12]!r})")
        clen = None
        for line in head.split(b"\r\n"):
            k, _, v = line.partition(b":")
            if k.strip().lower() == b"content-length":
                clen = int(v.strip())
        if clen is None:
            raise ValueError(
                f"WARC framing: record at offset {pos} has no "
                f"Content-Length")
        body_start = end_hdr + 4
        rec_end = body_start + clen
        if rec_end > n:
            raise ValueError(
                f"WARC framing: record at offset {pos} claims "
                f"{clen} octets but only {n - body_start} remain")
        out.append(data[pos:rec_end])
        pos = rec_end
    return out


def read_warc(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """``.warc`` / ``.warc.gz`` files → one row per record
    (path, rec_idx, record string — latin-1, byte-exact). Feed the
    result to :func:`parse_warc_fields`. Scale shape: one binaryFile
    scan, per-file splitting inside ``mapInPandas`` (a WARC file is
    the atomic unit — records cannot split across files), no driver
    materialization."""
    binary = spark.read.format("binaryFile").load(paths)

    def _split(batches: Iterable) -> Iterable:
        import pandas as pd

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if os.path.basename(p).endswith(".gz"):
                    # stdlib gzip reads ALL concatenated members —
                    # the per-record-member layout WARC writers use
                    data = gzip.GzipFile(
                        fileobj=io.BytesIO(data)).read()
                for i, rec in enumerate(split_warc_records(data)):
                    rows.append((p, i, rec.decode("latin-1")))
            yield pd.DataFrame(rows,
                               columns=["path", "rec_idx", "record"])

    return binary.select("path", "content").mapInPandas(
        _split, READ_SCHEMA)


def warc_record_bytes(headers: dict[str, str], block: bytes) -> bytes:
    """Build one spec-framed record (test/fixture helper — also the
    writer primitive): Content-Length is computed, never trusted."""
    head_lines = [b"WARC/1.0"]
    for k, v in headers.items():
        head_lines.append(f"{k}: {v}".encode("latin-1"))
    head_lines.append(f"Content-Length: {len(block)}".encode())
    return b"\r\n".join(head_lines) + b"\r\n\r\n" + block + b"\r\n\r\n"
