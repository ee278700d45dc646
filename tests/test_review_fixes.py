"""Regression tests for the review-found defects (round 5).

Each test pins the FIXED behavior on the exact failure input from the
finding, so a revert reproduces the original bug as a test failure.
"""

from __future__ import annotations

import os


def test_parse_readings_nulls_dirty_fields_under_ansi(spark):
    """Well-formed JSON with a non-numeric measurement or a
    non-yyyy-MM-dd date must yield NULL fields, not an ANSI cast
    crash (the old plain casts threw CAST_INVALID_INPUT)."""
    from bigdata_riveranalysis_spark.operators.river_pipeline import parse_readings

    rows = [
        ('{"WaterbodyName":"r1","FullDate":"2007-01-01","pH":"NA",'
         '"Dissolved Oxygen":"88.0","Conductivity @25°C":"400"}',),
        ('{"WaterbodyName":"r2","FullDate":"Jan 2007","pH":"7.0",'
         '"Dissolved Oxygen":"90.0","Conductivity @25°C":"500"}',),
    ]
    raw = spark.createDataFrame(rows, "value string")
    out = {r.sensor_id: r for r in parse_readings(raw).collect()}
    assert out["r1"].ph_value is None and out["r1"].do_value == 88.0
    assert out["r2"].timestamp is None and out["r2"].ph_value == 7.0


def test_wqi_band_null_for_all_null_reading(spark):
    """An all-NULL (malformed-wire) reading must band NULL, not
    'good'; a partially-NULL reading still bands on what it has."""
    from bigdata_riveranalysis_spark.operators.river_pipeline import wqi_classify

    readings = spark.createDataFrame(
        [
            ("s1", None, None, None),
            ("s2", 7.0, 90.0, None),
            ("s3", 5.0, 90.0, 400.0),
        ],
        "sensor_id string, ph_value double, do_value double, tds_value double",
    )
    out = {r.sensor_id: r.wqi_band for r in wqi_classify(readings).collect()}
    assert out == {"s1": None, "s2": "good", "s3": "fair"}


def test_flag_anomalies_keeps_null_sensor_rows(spark):
    """Readings with NULL sensor_id must survive the stats join
    (adds-columns-only contract), not vanish."""
    from bigdata_riveranalysis_spark.operators.river_pipeline import flag_anomalies

    readings = spark.createDataFrame(
        [("a", 7.0, 90.0, 400.0), (None, 6.9, 91.0, 410.0), (None, 7.1, 89.0, 390.0)],
        "sensor_id string, ph_value double, do_value double, tds_value double",
    )
    out = flag_anomalies(readings).collect()
    assert len(out) == 3
    assert sum(1 for r in out if r.sensor_id is None) == 2


def test_resolve_serving_path_bare_relative(tmp_path, monkeypatch):
    """A bare relative serving path must resolve without a './'
    prefix, so sweep keep-sets and glob results compare equal."""
    from bigdata_riveranalysis_spark.streaming.sinks import (
        SERVING_POINTER_SUFFIX,
        resolve_serving_path,
    )

    monkeypatch.chdir(tmp_path)
    os.mkdir("tbl__b0")
    with open("tbl" + SERVING_POINTER_SUFFIX, "w") as fh:
        fh.write("tbl__b0")
    assert resolve_serving_path("tbl") == "tbl__b0"
    assert resolve_serving_path(str(tmp_path / "tbl")) == str(tmp_path / "tbl__b0")


def test_ewma_null_reading_does_not_poison_state(spark, tmp_path):
    """A NULL value must pass through (ewma unchanged, no spike) and
    NOT fold NaN into state — subsequent genuine spikes still fire."""
    from bigdata_riveranalysis_spark.streaming.stateful import ewma_with_spikes
    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from .test_streaming import _ev, _write_files

    b1 = [
        _ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0),
        _ev(2, "2024-01-01 00:01:00", user_id=1, value=None),  # dirty reading
        _ev(3, "2024-01-01 00:02:00", user_id=1, value=100.0),  # must still spike
    ]
    path = _write_files(tmp_path, [b1])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = ewma_with_spikes(stream, alpha=0.5, spike_ratio=3.0)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_nan_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.event_id: r for r in spark.table("ewma_nan_q").collect()}
    assert rows[1].ewma == 10.0 and not rows[1].is_spike
    assert rows[2].ewma == 10.0 and not rows[2].is_spike  # passthrough, state intact
    assert rows[3].ewma == 55.0 and rows[3].is_spike  # NOT NaN-poisoned
