"""WARC source (M172 — ISO 28500, the Web ARChive format crawl data
actually arrives in; CommonCrawl publishes every fetch as WARC):
parse record text into typed columns — the ingestion edge in front
of the crawl→corpus pipeline (M169 html_to_text consumes the
response payloads, M164/M166 governance consumes the target URIs).

:func:`parse_warc_fields` maps one record STRING → (warc_type,
target_uri, warc_date_ts, record_id, content_length, http_status,
http_content_type, payload), pure codegen. Header names are
case-insensitive (``(?im)`` anchored extracts); response records
split their HTTP message at the nested CRLFCRLF (status from the
status line, payload after the HTTP headers); non-HTTP records carry
the whole block as payload. The same regexes re-run verbatim in the
q181 DuckDB oracle.

Out of scope, documented: chunked transfer decoding inside stored
HTTP messages (CommonCrawl stores de-chunked), ``WARC-Truncated``
continuation reassembly, and per-record digests (verify via
``content_length`` vs ``length(payload)`` instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
