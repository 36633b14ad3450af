"""Renderer + sink units: pandas-style timedelta formatting (golden
report format, SURVEY §7.4 risk 7), report text layout, and the gzip
CSV sink round-trip (S1/S3)."""

from __future__ import annotations

import pyspark.sql.functions as F

from batch_processing_analysis_spark.config import Configuration
from batch_processing_analysis_spark.operators.reporting import (
    OVERALL,
    format_timedelta_ns,
    render_report,
)
from batch_processing_analysis_spark.sources.event_log import (
    events_as_event_log,
    read_event_log_csv,
    write_event_log_csv,
)

IDS = Configuration().log_ids


def test_format_timedelta_pandas_style():
    # pandas renders Timedelta as 'D days HH:MM:SS[.ffffff]'
    assert format_timedelta_ns(0) == "0 days 00:00:00"
    assert format_timedelta_ns(1_000_000_000) == "0 days 00:00:01"
    assert format_timedelta_ns(86_400_000_000_000 + 3_661_000_123_000) == "1 days 01:01:01.000123"
    assert format_timedelta_ns(-5_000_000_000) == "-0 days 00:00:05"
    assert format_timedelta_ns(None) == "NaT"
    # reference report example magnitude: '8 days 03:42:45.918367'
    ns = (((8 * 24 + 3) * 3600 + 42 * 60 + 45) * 1_000_000 + 918_367) * 1000
    assert format_timedelta_ns(ns) == "8 days 03:42:45.918367"


def test_render_report_layout():
    row = {
        "activities": ["Approve"],
        IDS.batch_type: "Parallel",
        "num_instances": 3,
        "num_cases": 9,
        "num_events": 9,
        "frequency": 0.5,
        "total_occurrences": 18,
        "size_distribution": {3: 3},
        "size_first_seen": {3: 1},
        "cte": 0.3333,
        "sum_pt": 9 * 60_000_000,
        "sum_wt": 9 * 120_000_000,
        "sum_total_wt": 9 * 120_000_000,
        "sum_creation_wt": 9 * 60_000_000,
        "sum_ready_wt": 9 * 30_000_000,
        "sum_other_wt": 9 * 30_000_000,
    }
    overall = dict(row, **{IDS.batch_type: OVERALL})
    text = render_report([row, overall], Configuration())
    assert "Batch formed by activities: ('Approve',)" in text
    assert "\tNum occurrences: 18" in text
    assert "\t- Batch type: Parallel" in text
    assert "\t\tNum batch instances: 3" in text
    assert "\t\tFrequency: 50.00%" in text
    assert "0 days 00:01:00 sec" in text
    assert "CTE: 0.33" in text


def test_csv_sink_roundtrip(spark, sf_dir, tmp_path):
    log = events_as_event_log(spark, sf_dir, IDS).drop("event_id").limit(200)
    path = str(tmp_path / "out_csv")
    write_event_log_csv(log, path, gzip=True)
    back = read_event_log_csv(spark, path, IDS)
    assert back.count() == 200
    a = {tuple(r) for r in log.select(IDS.case, IDS.activity,
                                      F.unix_micros(IDS.start_time)).collect()}
    b = {tuple(r) for r in back.select(IDS.case, IDS.activity,
                                       F.unix_micros(IDS.start_time)).collect()}
    assert a == b
