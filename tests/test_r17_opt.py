"""r17 optimization pins.

1. Session-fold state-scan flush (VERDICT r16 #1): the registered
   ``stream_session_fold_ttl`` now drains under ``NoTimeout`` and
   recovers the timed-out sessions with one bounded scan of the state
   store (``session_fold_expired_from_state``) instead of the per-key
   ``hasTimedOut`` cleanup micro-batch. For a SINGLE-data-batch drain
   (the registered fixture's shape) the two formulations must be
   row-identical — pinned here against the EventTimeTimeout
   formulation on a real corpus AND on the planted ms knife edge from
   tests/test_r16_fixes.py (equality at the boundary stays OPEN in
   both).
"""

from __future__ import annotations

import os

from .conftest import SF_SMOKE
from .test_r15_fixes import _ev


def _drain_state_scan(spark, stream, tmp_path, *, name):
    """Replicate the registered query's r17 shape on an arbitrary
    event stream: NoTimeout fold into a memory sink with an explicit
    checkpoint, then the state-scan flush, unioned."""
    from bigdata_riveranalysis_spark.streaming.stateful import (
        session_fold_event_ttl,
        session_fold_expired_from_state,
    )

    out = session_fold_event_ttl(
        stream,
        gap_minutes=30,
        watermark_delay="10 minutes",
        timeout_flush=False,
    )
    ckpt = str(tmp_path / f"ckpt_{name}")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "NoTimeout availableNow drain must terminate"
        # the whole point: no cleanup micro-batch runs without a timeout
        assert len(q.recentProgress) == 1, [p.batchId for p in q.recentProgress]
    finally:
        q.stop()
    expired = session_fold_expired_from_state(
        spark, ckpt, gap_minutes=30, watermark_delay_ms=600_000
    )
    return spark.table(name).unionByName(expired)


def _rows(df):
    return sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.last_event_id, r.close_reason)
        for r in df.collect()
    )


def test_session_fold_state_scan_equals_timeout_flush(spark, tmp_path):
    """On the real sf0.001 events corpus (single file → single
    availableNow batch), the state-scan flush reproduces the
    EventTimeTimeout formulation row-for-row."""
    from bigdata_riveranalysis_spark.plans.streaming_queries import (
        _events_stream,
        _run_stream,
    )
    from bigdata_riveranalysis_spark.streaming.stateful import (
        session_fold_event_ttl,
    )

    timeout_out = session_fold_event_ttl(
        _events_stream(spark, SF_SMOKE),
        gap_minutes=30,
        watermark_delay="10 minutes",
    )
    via_timeout = _run_stream(
        timeout_out, spark, "append", "r17_fold_timeout", python_stateful=True
    )
    via_scan = _drain_state_scan(
        spark, _events_stream(spark, SF_SMOKE), tmp_path, name="r17_fold_scan"
    )
    a, b = _rows(via_timeout), _rows(via_scan)
    assert a == b and len(a) > 0, (len(a), len(b))
    # both close reasons must actually occur for the pin to mean much
    reasons = {r[5] for r in a}
    assert reasons == {"gap", "timeout"}, reasons


def test_session_fold_state_scan_knife_edge(spark, tmp_path):
    """The measured boundary from tests/test_r16_fixes.py, through the
    state-scan flush: expiry iff floor_ms(last)+gap < floor_ms(max
    ts)-delay STRICTLY — the planted equality case stays open, the
    1 ms-inside case emits, in-batch gaps close inline, and the open
    session the watermark never reaches is unreported."""
    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream

    src = tmp_path / "src_edge"
    src.mkdir()
    rows = [
        # u1: session ends 00:10 -> timeout 00:40 << wm -> expired
        _ev(1, "2024-01-01 00:00:00", 1, "view"),
        _ev(2, "2024-01-01 00:10:00", 1, "view"),
        # u2 knife-edge: floor_ms(09:20:00.000500)+30min ==
        # floor_ms(10:00:00.000999)-10min -> equality -> OPEN
        _ev(3, "2024-01-01 09:20:00.000500", 2, "view"),
        # u3: 1 ms inside the boundary -> expired
        _ev(4, "2024-01-01 09:19:59.999", 3, "view"),
        # u4: 60-min in-batch gap -> first session closes 'gap'
        _ev(5, "2024-01-01 01:00:00", 4, "view"),
        _ev(6, "2024-01-01 02:00:00", 4, "view"),
        # u9 anchor sets wm = floor_ms(10:00:00.000999) - 10 min
        _ev(9, "2024-01-01 10:00:00.000999", 9, "view"),
    ]
    (src / "batch_000.json").write_text("\n".join(rows) + "\n")
    out = _drain_state_scan(
        spark, file_json_stream(spark, str(src)), tmp_path, name="r17_fold_edge"
    )
    assert set(_rows(out)) == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 2, "timeout"),
        (3, "2024-01-01 09:19:59", "2024-01-01 09:19:59", 1, 4, "timeout"),
        (4, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1, 5, "gap"),
        (4, "2024-01-01 02:00:00", "2024-01-01 02:00:00", 1, 6, "timeout"),
    }


def test_rfm_single_banded_pass(spark):
    """VERDICT r16 #6: all three RFM quintile scores ride ONE
    two_level_prefix pass — exactly one range exchange in the
    optimized plan (the r16 shape had three, one per score branch).
    Value parity with literal ntile(5) stays pinned by
    tests/test_r6_operators.py::test_rfm_scores_identical_to_literal_ntile."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    df = REGISTRY["customer_rfm_segments"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # two_level_prefix materializes its banded frame (localCheckpoint
    # -> LogicalRDD) and feeds two consumers (the per-band window and
    # the band-totals aggregate): ONE pass = exactly two LogicalRDD
    # scans of the SAME melted shape. The r16 three-branch build had
    # six. The melt is also the §2.3 pin: the banded exchange carries
    # the slim (c_custkey, sid, key) rows, not the whole base row.
    rdd_lines = [l for l in plan.splitlines() if "LogicalRDD" in l]
    assert len(rdd_lines) == 2, plan
    assert all("sid" in l and "key" in l for l in rdd_lines), rdd_lines


def test_q21_single_job_no_materialization(spark):
    """VERDICT r16 #5: q21's per-order stats are partitioned windows
    over the pair aggregate — no eager localCheckpoint barrier, so the
    whole query is one job (no LogicalRDD scan in the plan) and the
    blame predicate needs no self-join of the pair table."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    df = REGISTRY["q21_sole_late_supplier"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert "Window" in plan
    # one lineitem scan only (the relation line leads with l_orderkey)
    assert plan.count("Relation [l_") == 1, plan


def test_staged_frames_are_rightsized_by_bytes(spark, monkeypatch):
    """VERDICT r16 #2: a slim staged artifact no longer inherits its
    build plan's cores-derived partitioning — stage() re-lands it at
    ceil(bytes / target) partitions, rows unchanged. A frame whose
    bytes justify its partitioning is left alone."""
    from bigdata_riveranalysis_spark import sizing
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    wide = spark.range(0, 1000, 1, 24).selectExpr("id", "id * 3 AS trip")
    got = S.stage(spark, SF_SMOKE, "r17_rightsize_probe", lambda: wide)
    n = got.rdd.getNumPartitions()
    assert n < 24 and n >= 1, n
    assert sorted(r.id for r in got.collect()) == list(range(1000))
    # bytes-justified partitioning is untouched: shrink the target so
    # the same frame's bytes demand >= its partition count
    monkeypatch.setattr(sizing, "STAGED_BYTES_PER_PART", 1)
    S.clear_index_memo()
    got2 = S.stage(spark, SF_SMOKE, "r17_rightsize_probe2", lambda: wide)
    assert got2.rdd.getNumPartitions() == 24


def test_spread_small_scan_row_cap(spark, tmp_path):
    """The under-split spread never goes thinner than
    sizing.SPREAD_MIN_ROWS_PER_TASK rows per task: a 1,000-row single-file
    table spreads to ceil(1000/256)=4 partitions on local[32], not
    32; a table with >= 256·cores rows still spreads to every core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_riveranalysis_spark.sources.tables import spread_small_scan

    p = str(tmp_path / "tiny.parquet")
    pq.write_table(pa.table({"id": list(range(1000))}), p)
    out = spread_small_scan(spark, spark.read.parquet(p), p)
    assert out.rdd.getNumPartitions() == 4, out.rdd.getNumPartitions()

    p2 = str(tmp_path / "wide.parquet")
    cores = spark.sparkContext.defaultParallelism
    pq.write_table(pa.table({"id": list(range(256 * cores + 1))}), p2)
    out2 = spread_small_scan(spark, spark.read.parquet(p2), p2)
    assert out2.rdd.getNumPartitions() == cores, out2.rdd.getNumPartitions()


def test_stream_stream_join_skips_no_data_batch_same_rows(spark):
    """VERDICT r16 #4: the inner stream-stream join drain skips the
    final no-data micro-batch (it only evicts state; eager inner-join
    emission means it outputs nothing). Rows must be identical with
    and without the skip, and the session conf must be restored."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY
    from bigdata_riveranalysis_spark.plans import streaming_queries as SQ

    q = REGISTRY["stream_stream_join"].fn
    with_skip = sorted(tuple(map(str, r)) for r in q(spark, SF_SMOKE).collect())
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == "true"
    ), "conf not restored after the drain"

    # the control: the same plan through the default (no-skip) runner
    import bigdata_riveranalysis_spark.plans.streaming_queries as mod

    orig = mod._run_stream

    def no_skip(df, spark_, output_mode, label, **kw):
        kw.pop("skip_no_data_batch", None)
        return orig(df, spark_, output_mode, label + "_ctl", **kw)

    mod._run_stream = no_skip
    try:
        without_skip = sorted(
            tuple(map(str, r)) for r in q(spark, SF_SMOKE).collect()
        )
    finally:
        mod._run_stream = orig
    assert with_skip == without_skip and len(with_skip) > 0, (
        len(with_skip),
        len(without_skip),
    )


def _old_ewma_reference(pdf, alpha=0.3, spike_ratio=3.0):
    """Verbatim r16 ewma group fold (sort_values + Series iteration +
    list appends) — the parity reference for the r17 numpy-machinery
    rewrite. The arithmetic chain is identical by construction; this
    pins that the mechanical rewrite didn't change it."""
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"])
    ewma, n = 0.0, 0
    out_ewma, out_spike = [], []
    for v in pdf["value"]:
        v = float(v)
        if v != v:
            out_ewma.append(ewma if n > 0 else float("nan"))
            out_spike.append(False)
            continue
        spike = n > 0 and v > spike_ratio * ewma
        ewma = v if n == 0 else alpha * v + (1.0 - alpha) * ewma
        n += 1
        out_ewma.append(ewma)
        out_spike.append(spike)
    return pd.DataFrame(
        {"event_id": pdf["event_id"].to_numpy(), "ewma": out_ewma,
         "is_spike": out_spike}
    )


def _old_feature_reference(pdf):
    """Verbatim r16 feature-map group fold (fresh state)."""
    import pandas as pd

    from bigdata_riveranalysis_spark.streaming.stateful import _type_key

    pdf = pdf.sort_values(["ts", "event_id"])
    counts, total = {}, 0
    occ, new, ntypes, totals = [], [], [], []
    for et in pdf["event_type"]:
        k = _type_key(et)
        c = counts.get(k, 0) + 1
        counts[k] = c
        total += 1
        occ.append(c)
        new.append(c == 1)
        ntypes.append(len(counts))
        totals.append(total)
    return pd.DataFrame(
        {"event_id": pdf["event_id"].to_numpy(), "type_occurrence": occ,
         "is_new_type": new, "n_types_so_far": ntypes, "events_so_far": totals}
    )


def test_pystate_folds_match_old_loop_on_planted_edges(spark, tmp_path):
    """r17 §4.2 rewrite of the ewma / feature-map group folds (lexsort
    + preallocated numpy outputs instead of per-group pandas
    machinery): engine output must equal the verbatim OLD loops on a
    corpus planting the edge cases — NaN/NULL readings (including a
    sensor whose FIRST readings are missing), NULL event_type, and ts
    ties broken by event_id. ewma equality is BITWISE."""
    import json
    import math

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import (
        ewma_with_spikes,
        feature_map_bundle,
    )

    rows = [
        # u1: ts tie broken by event_id, a spike, and a NaN mid-stream
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 10.0},
        {"event_id": 2, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "b", "value": 1.0},
        {"event_id": 3, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": None, "value": None},
        {"event_id": 4, "ts": "2024-01-01 00:02:00", "user_id": 1, "event_type": "a", "value": 99.0},
        # u2: first readings missing, then values
        {"event_id": 5, "ts": "2024-01-01 00:00:00", "user_id": 2, "event_type": "x", "value": None},
        {"event_id": 6, "ts": "2024-01-01 00:00:30", "user_id": 2, "event_type": "x", "value": 7.25},
        {"event_id": 7, "ts": "2024-01-01 00:00:30", "user_id": 2, "event_type": "y", "value": 0.1},
    ]
    src = tmp_path / "src_folds"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(json.dumps({**r, "props": "{}"}) for r in rows) + "\n"
    )

    def drain(out, name):
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(180)
        return spark.table(name).toPandas()

    stream = file_json_stream(spark, str(src))
    got_e = drain(ewma_with_spikes(stream), "r17_fold_ewma")
    got_f = drain(feature_map_bundle(file_json_stream(spark, str(src))), "r17_fold_feat")

    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    for uid, grp in pdf.groupby("user_id"):
        ref = _old_ewma_reference(grp)
        got = got_e[got_e.sensor_id == uid].set_index("event_id")
        for _, r in ref.iterrows():
            g = got.loc[r.event_id]
            assert bool(g.is_spike) == bool(r.is_spike), (uid, r.event_id)
            if math.isnan(r.ewma):
                assert g.ewma is None or (isinstance(g.ewma, float) and math.isnan(g.ewma))
            else:
                assert float(g.ewma) == float(r.ewma), (uid, r.event_id)
        reff = _old_feature_reference(grp)
        gotf = got_f[got_f.user_id == uid].set_index("event_id")
        for _, r in reff.iterrows():
            g = gotf.loc[r.event_id]
            assert (
                int(g.type_occurrence), bool(g.is_new_type),
                int(g.n_types_so_far), int(g.events_so_far),
            ) == (
                int(r.type_occurrence), bool(r.is_new_type),
                int(r.n_types_so_far), int(r.events_so_far),
            ), (uid, r.event_id)


def test_session_fold_expired_from_state_empty_checkpoint(spark, tmp_path):
    """A drain that never committed state (empty source) yields an
    empty expired set with the declared schema, not a reader error."""
    from bigdata_riveranalysis_spark.streaming.stateful import (
        SESSION_FOLD_OUTPUT_SCHEMA,
        session_fold_expired_from_state,
    )

    ckpt = str(tmp_path / "never_ran")
    os.makedirs(ckpt)
    out = session_fold_expired_from_state(spark, ckpt)
    assert out.schema == SESSION_FOLD_OUTPUT_SCHEMA
    assert out.count() == 0
