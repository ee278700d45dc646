"""The partition-count policy (``bigdata_riveranalysis_spark.sizing``)
and the sites that apply it.

The table pins every operator class at the counts the recorded
plans, hashes and bench timings were produced with, for the inputs
each site sees: corpus bytes of the three fixture scale
factors, fixture row counts, and core counts from 4 up to 128 (at 4
cores several classes give the same answer, so the wider counts are
what tell the rules apart). It needs no Spark.
"""

from __future__ import annotations

import ast
import logging
import os

import pytest

from bigdata_riveranalysis_spark import sizing

from .conftest import SF_SMOKE

#: Footer bytes of all tables in each fixture corpus (sum of file sizes).
SF0001_BYTES = 462_880
SF001_BYTES = 1_873_666
SF01_BYTES = 17_504_410
MIB = 1 << 20

#: (operator class, inputs, expected partition count)
TABLE = [
    # session shuffle partitions: clamp(ceil(bytes / 1 MiB), 4, max(2×cores, 8))
    ("shuffle", dict(nbytes=SF0001_BYTES, cores=4), 4),
    ("shuffle", dict(nbytes=SF0001_BYTES, cores=8), 4),
    ("shuffle", dict(nbytes=SF0001_BYTES, cores=32), 4),
    ("shuffle", dict(nbytes=SF001_BYTES, cores=4), 4),
    ("shuffle", dict(nbytes=SF001_BYTES, cores=8), 4),
    ("shuffle", dict(nbytes=SF001_BYTES, cores=32), 4),
    ("shuffle", dict(nbytes=SF01_BYTES, cores=4), 8),
    ("shuffle", dict(nbytes=SF01_BYTES, cores=8), 16),
    ("shuffle", dict(nbytes=SF01_BYTES, cores=32), 17),
    ("shuffle", dict(nbytes=0, cores=4), 8),  # corpus absent: the cap
    ("shuffle", dict(nbytes=0, cores=32), 64),
    # staged-frame rightsize: ceil(bytes / 4 MiB) if below current and current > 4
    ("staged", dict(nbytes=1_000, current=24), 1),
    ("staged", dict(nbytes=1_000, current=4), 4),
    ("staged", dict(nbytes=9 * MIB, current=8), 3),
    ("staged", dict(nbytes=4 * MIB, current=5), 1),
    ("staged", dict(nbytes=100 * MIB, current=8), 8),
    # small-scan spread: min(cores, ceil(rows / 256)) if above the split count
    ("scan_spread", dict(rows=1_000, cores=4, current=1), 4),
    ("scan_spread", dict(rows=1_000, cores=8, current=1), 4),
    ("scan_spread", dict(rows=1_000, cores=32, current=1), 4),
    ("scan_spread", dict(rows=256 * 4 + 1, cores=4, current=1), 4),
    ("scan_spread", dict(rows=256 * 8 + 1, cores=8, current=1), 8),
    ("scan_spread", dict(rows=256 * 32 + 1, cores=32, current=1), 32),
    ("scan_spread", dict(rows=5_000, cores=32, current=1), 20),  # sf0.1 documents
    ("scan_spread", dict(rows=1_000, cores=32, current=6), 6),  # already split enough
    # k-means staging table: ceil(vectors / 512)
    ("kmeans_stage", dict(rows=2_000), 4),
    # stream state partitions: max(4, cores // 8) JVM, max(4, cores // 2) Python
    ("state_jvm", dict(cores=4), 4),
    ("state_python", dict(cores=4), 4),
    ("state_jvm", dict(cores=8), 4),
    ("state_python", dict(cores=8), 4),
    ("state_jvm", dict(cores=32), 4),
    ("state_python", dict(cores=32), 16),
    ("state_jvm", dict(cores=128), 16),
    ("state_python", dict(cores=128), 64),
]


def test_every_class_matches_parent_table(caplog):
    """Every decision equals the pre-move rule's output, and each one
    logs exactly one line from the policy's logger."""
    with caplog.at_level(logging.INFO, logger=sizing.__name__):
        got = [sizing.partitions(op, **kw) for op, kw, _ in TABLE]
    wrong = [(op, kw, n, want) for (op, kw, want), n in zip(TABLE, got) if n != want]
    assert not wrong, wrong
    lines = [r.getMessage() for r in caplog.records if r.name == sizing.__name__]
    assert len(lines) == len(TABLE), lines
    assert lines[0] == f"sizing shuffle: bytes={SF0001_BYTES} rows=0 cores=4 current=0 -> 4"


def test_unknown_class_is_an_error():
    with pytest.raises(ValueError, match="operator class"):
        sizing.partitions("broadcast", nbytes=1)


def test_policy_module_imports_no_spark():
    tree = ast.parse(open(sizing.__file__).read())
    mods = {
        a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names
    } | {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
    assert mods == {"__future__", "logging"}, mods


def test_rightsize_skip_is_logged_when_introspection_fails(spark, monkeypatch, caplog):
    """A py4j failure while reading the staged frame's storage report
    skips the rightsize pass with one log line; stage() still returns
    the materialized frame with every row."""
    from py4j.protocol import Py4JError

    from bigdata_riveranalysis_spark.plans import staging as S

    def boom(df, rid):
        raise Py4JError("storage report unavailable")

    monkeypatch.setattr(S, "_stored_bytes", boom)
    S.clear_index_memo()
    wide = spark.range(0, 1000, 1, 24).selectExpr("id", "id * 3 AS trip")
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        got = S.stage(spark, SF_SMOKE, "rightsize_skip_probe", lambda: wide)
    assert got.rdd.getNumPartitions() == 24
    assert sorted((r.id, r.trip) for r in got.collect()) == [(i, 3 * i) for i in range(1000)]
    skips = [r for r in caplog.records if "rightsize skipped" in r.getMessage()]
    assert len(skips) == 1, [r.getMessage() for r in caplog.records]
    S.clear_index_memo()


def test_stream_drain_touches_only_the_conf_it_changes(spark):
    """A drain that does not skip the no-data batch never reads or
    writes ``noDataMicroBatches.enabled``; one that does restores it
    exactly — unset stays unset. The shuffle-partition override is
    restored too, and no drain writes the state-store provider."""
    import pyarrow.parquet as pq

    from bigdata_riveranalysis_spark.plans.streaming_queries import _events_stream, _run_stream

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    provider = "spark.sql.streaming.stateStore.providerClass"
    n_events = pq.read_metadata(os.path.join(SF_SMOKE, "events.parquet")).num_rows
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.unset(key)
    spark.conf.unset(provider)
    for skip in (False, True):
        df = _events_stream(spark, SF_SMOKE).select("event_id")
        out = _run_stream(df, spark, "append", f"conf_scope_{skip}", skip_no_data_batch=skip)
        assert out.count() == n_events
        assert key not in spark.conf.getAll, (skip, spark.conf.get(key))
        assert provider not in spark.conf.getAll, (skip, spark.conf.get(provider))
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
