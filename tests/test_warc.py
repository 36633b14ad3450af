"""WARC record parsing tests (M172, sources/warc.py) — typed fields
from ISO 28500 record text; q181's DuckDB twin re-runs the
string-level parse in SQL at corpus scale."""

from __future__ import annotations

from batch_processing_analysis_spark.sources import warc as W


def _record(headers: dict[str, str], block: str) -> str:
    """One spec-framed record as its text: header block, CRLFCRLF,
    ``Content-Length`` octets of block."""
    head = ["WARC/1.0", *(f"{k}: {v}" for k, v in headers.items()),
            f"Content-Length: {len(block)}"]
    return "\r\n".join(head) + "\r\n\r\n" + block


def _response(uri, date, body: str, status=200, ctype="text/html") -> str:
    http = (f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n") + body
    return _record(
        {"WARC-Type": "response", "WARC-Target-URI": uri,
         "WARC-Date": date,
         "WARC-Record-ID": f"<urn:uuid:{abs(hash(uri)) % 10**8}>"},
        http)


def _records() -> list[str]:
    info = _record(
        {"WARC-Type": "warcinfo", "WARC-Date": "2024-01-01T00:00:00Z"},
        "software: test\r\n")
    r1 = _response("http://a.com/1", "2024-01-02T03:04:05Z",
                   "<html>one</html>")
    # a payload CONTAINING the record magic must not confuse parsing
    r2 = _response("http://a.com/2", "2024-01-03T00:00:00Z",
                   "literal WARC/1.0\r\n\r\nnot a record", status=404)
    return [info, r1, r2]


def test_parse_fields(spark):
    df = spark.createDataFrame(list(enumerate(_records())),
                               "rec_idx int, record string")
    rows = {r["rec_idx"]: r for r in W.parse_warc_fields(df).collect()}
    info = rows[0]
    assert info["warc_type"] == "warcinfo"
    assert info["http_status"] is None
    assert info["payload"] == "software: test\r\n"
    r1 = rows[1]
    assert r1["warc_type"] == "response"
    assert r1["target_uri"] == "http://a.com/1"
    assert r1["http_status"] == 200
    assert r1["http_content_type"] == "text/html"
    assert r1["payload"] == "<html>one</html>"
    assert str(r1["warc_date_ts"]) == "2024-01-02 03:04:05"
    r2 = rows[2]
    assert r2["http_status"] == 404
    assert r2["payload"] == "literal WARC/1.0\r\n\r\nnot a record"
    # spec framing: content_length is the full HTTP message
    assert r2["content_length"] > len(r2["payload"])


def test_parse_is_pure_codegen(spark):
    df = spark.createDataFrame([(_records()[1],)], "record string")
    plan = W.parse_warc_fields(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
