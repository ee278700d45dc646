"""r16 regression pins (ADVICE r15 + VERDICT r15 #3/#5/#6).

  1. One checkpoint-dir installation per session (ADVICE r15 medium):
     durable staging writes under the SparkContext's own checkpoint
     dir and never re-installs it, so stages do not scatter across
     fresh UUID subdirs.
  2. Staging KEY LOCKS are never dropped (ADVICE r15 low):
     clear_index_memo / other-app eviction used to delete RLocks a
     build could be holding, so a same-key stage() after the clear
     minted a fresh lock and ran a duplicate concurrent build.
  3. record_band --merge-min repairs zero floors (ADVICE r15 low): a
     prior floor <= 0 is degenerate and must be REPLACED by a
     qualifying run, not kept as "tighter" forever.
  4. Re-times are staging-memo-honest (VERDICT r15 #3): each
     requalified row records whether the corpus-staging memo was warm,
     so a cold-memo re-time of a staged consumer is adjudicated as a
     build cost, not a plan regression.
  5. Inconclusive requalification rows get one end-of-pass retry
     (VERDICT r15 #5): a clean late attempt replaces the contaminated
     record; a hot one keeps the inconclusive marker honest.
  6. Pre-r15 state-key migration (ADVICE r15 low): a stream resumed
     from a pre-r15 checkpoint rewrites raw/"\\x00null" keys into the
     injective r15 format on first read — occurrence chains continue.
  7. TTL knife-edge (VERDICT r15 #6): an event arriving in the same
     micro-batch in which the key's ProcessingTimeTimeout would fire
     WINS — Spark never times out a key that has data in the batch —
     so the bundle continues instead of resetting.
"""

from __future__ import annotations

import glob
import os
import threading

from .conftest import SF_SMOKE, checkpoint_dir
from .test_r15_fixes import _ev, _patch_probes, _replay_batches


def _toy_query(s, d):
    return s.range(1000).selectExpr("sum(id) AS s")


# ---------------------------------------------------------------------------
# 1. one checkpoint-dir installation per session
# ---------------------------------------------------------------------------


def test_no_uuid_scatter_across_materializations(spark, tmp_path):
    """Two stage() calls under one unchanged checkpoint dir must share
    ONE setCheckpointDir installation (one UUID subdir): the engine
    writes under the context's dir and never re-installs it."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    ck = tmp_path / "ck_scatter"
    with checkpoint_dir(spark, ck):
        S.stage(spark, SF_SMOKE, "r16_scatter_a", lambda: spark.range(5))
        S.stage(spark, SF_SMOKE, "r16_scatter_b", lambda: spark.range(6))
        uuid_dirs = [p for p in glob.glob(os.path.join(str(ck), "*")) if os.path.isdir(p)]
        assert len(uuid_dirs) == 1, (
            f"expected one UUID checkpoint subdir, got {uuid_dirs}"
        )
        S.clear_index_memo()


# ---------------------------------------------------------------------------
# 2. key locks survive clear_index_memo and other-app eviction
# ---------------------------------------------------------------------------


def test_clear_during_inflight_build_serializes_and_rebuilds(spark):
    """clear_index_memo() while a build holds its key lock: a same-key
    stage() arriving AFTER the clear must block on the SAME lock (no
    duplicate CONCURRENT build — ADVICE r15's lock retention), and
    then REBUILD rather than reuse the in-flight build's result — a
    clear means the corpus may have been rewritten, so the pre-clear
    build's artifact would be stale for every post-clear caller
    (review r16; the generation guard skips the pre-clear build's
    memo insert). The pre-clear caller itself keeps its own result:
    its call happened-before the clear."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    builds: list[str] = []
    build_started = threading.Event()
    release_build = threading.Event()

    def slow_build():
        builds.append(threading.current_thread().name)
        if len(builds) == 1:
            build_started.set()
            assert release_build.wait(timeout=30), "test deadlock"
        return spark.range(7)

    results: dict = {}

    def staged():
        results[threading.current_thread().name] = S.stage(
            spark, SF_SMOKE, "r16_clear_race", slow_build
        )

    t1 = threading.Thread(target=staged, name="pre-clear")
    t1.start()
    assert build_started.wait(timeout=30)
    S.clear_index_memo()  # mid-build clear — must NOT drop the key lock

    t2 = threading.Thread(target=staged, name="post-clear")
    t2.start()
    # the second stage must be BLOCKED behind the in-flight build —
    # never a concurrent duplicate on a freshly-minted lock
    t2.join(timeout=1.0)
    assert t2.is_alive(), "second stage must wait on the in-flight key lock"
    release_build.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert builds == ["pre-clear", "post-clear"], (
        "post-clear stage must rebuild (stale pre-clear artifact must "
        "not be served), serialized behind the in-flight build"
    )
    assert results["pre-clear"] is not results["post-clear"]
    # the post-clear build IS memoized for subsequent callers
    third = S.stage(
        spark, SF_SMOKE, "r16_clear_race", lambda: spark.range(99)
    )
    assert third is results["post-clear"], (
        "a follow-up stage must hit the post-clear memo entry"
    )
    assert len(builds) == 2
    S.clear_index_memo()


def test_clear_generation_skips_only_preclear_insert(spark):
    """The generation guard is scoped to builds that STARTED before
    the clear: a stage() beginning after the clear memoizes normally
    (its insert carries the current generation)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    a = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(3))
    b = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(4))
    assert b is a, "same-generation stage must hit the memo"
    S.clear_index_memo()
    c = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(5))
    d = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(6))
    assert c is not a and d is c, (
        "post-clear stage rebuilds once and memoizes for followers"
    )
    S.clear_index_memo()


def test_other_app_insert_evicts_frames_but_not_locks(spark):
    """A new application's memo insert evicts other-app FRAMES (dead
    blocks) but must keep other-app LOCKS (identity loss mid-build =
    the duplicate-build race, ADVICE r15)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    fake_key = ("app-someone-else", "/nonexistent/corpus", "r16_fake_stage")
    with S._LOCK:
        S._INDEX_MEMO[fake_key] = spark.range(1)
        S._KEY_LOCKS[fake_key] = threading.RLock()
    S.stage(spark, SF_SMOKE, "r16_evict_probe", lambda: spark.range(2))
    with S._LOCK:
        assert fake_key not in S._INDEX_MEMO, "other-app frame must evict"
        assert fake_key in S._KEY_LOCKS, "other-app lock must survive"
        del S._KEY_LOCKS[fake_key]
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 3. record_band --merge-min repairs zero floors
# ---------------------------------------------------------------------------


def test_record_band_merge_min_replaces_zero_floor(tmp_path):
    """A prior floor of 0.0 (sub-millisecond rounding pathology) must
    be replaced by the qualifying run's real timing under --merge-min —
    `0.0 < t` is true for every real timing, so without the explicit
    guard a zero floor could never be repaired (ADVICE r15)."""
    import json
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = str(tmp_path / "rbz")
    os.makedirs(os.path.join(tmp, "tools"), exist_ok=True)
    shutil.copy(
        os.path.join(repo, "tools", "record_band.py"),
        os.path.join(tmp, "tools", "record_band.py"),
    )
    with open(os.path.join(tmp, "BENCH.json"), "w") as f:
        json.dump(
            {
                "value": 1.0,
                "sf": 0.1,
                "queries": {"z": 0.8, "a": 0.2},
                "loadavg_at_min": {"z": 5.0, "a": 5.0},
                "noise": [
                    {"pass": 2, "loadavg_1m": 5.0, "probe_sec": 0.03},
                    {"pass": 3, "loadavg_1m": 5.0, "probe_sec": 0.035},
                ],
                "errors": {},
            },
            f,
        )
    with open(os.path.join(tmp, "QUIET_BAND.json"), "w") as f:
        json.dump(
            {
                "queries": {
                    "z": {"min": 0.0, "loadavg_at_min": 4.0},
                    "a": {"min": 0.1, "loadavg_at_min": 4.0},
                }
            },
            f,
        )
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(tmp, "tools", "record_band.py"),
            "t",
            "--merge-min",
        ],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    band = json.load(open(os.path.join(tmp, "QUIET_BAND.json")))["queries"]
    assert band["z"]["min"] == 0.8, "zero floor must be repaired by the run"
    assert band["a"]["min"] == 0.1, "a real tighter prior floor still wins"


def test_record_band_merge_min_keeps_positive_prior_over_zero_run(tmp_path):
    """The mirror image of the zero-floor repair (review r16): a
    qualifying run whose timing for a query ROUNDED TO 0.0 (the same
    sub-millisecond pathology, current-side) must not replace a real
    positive prior floor — that would plant the un-flaggable zero the
    repair guard exists to remove, violating 'floors only ratchet
    down' (down means toward real timings, not toward zero)."""
    import json
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = str(tmp_path / "rbzc")
    os.makedirs(os.path.join(tmp, "tools"), exist_ok=True)
    shutil.copy(
        os.path.join(repo, "tools", "record_band.py"),
        os.path.join(tmp, "tools", "record_band.py"),
    )
    with open(os.path.join(tmp, "BENCH.json"), "w") as f:
        json.dump(
            {
                "value": 1.0,
                "sf": 0.1,
                # a: run rounds to zero, prior is real; b: both zero
                "queries": {"a": 0.0, "b": 0.0},
                "loadavg_at_min": {"a": 5.0, "b": 5.0},
                "noise": [
                    {"pass": 2, "loadavg_1m": 5.0, "probe_sec": 0.03},
                    {"pass": 3, "loadavg_1m": 5.0, "probe_sec": 0.035},
                ],
                "errors": {},
            },
            f,
        )
    with open(os.path.join(tmp, "QUIET_BAND.json"), "w") as f:
        json.dump(
            {
                "queries": {
                    "a": {"min": 0.1, "loadavg_at_min": 4.0},
                    "b": {"min": 0.0, "loadavg_at_min": 4.0},
                }
            },
            f,
        )
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(tmp, "tools", "record_band.py"),
            "t",
            "--merge-min",
        ],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    band = json.load(open(os.path.join(tmp, "QUIET_BAND.json")))["queries"]
    assert band["a"] == {"min": 0.1, "loadavg_at_min": 4.0}, (
        "a zero-rounded run timing must not displace a real prior floor"
    )
    assert band["b"]["min"] == 0.0, (
        "both-degenerate stays zero (and stays visible to zero_floor_rows)"
    )


# ---------------------------------------------------------------------------
# 4. re-times record staging-memo warmth
# ---------------------------------------------------------------------------


def test_requalify_records_memo_state(spark, monkeypatch):
    from bigdata_riveranalysis_spark.plans import staging as S
    from tools.retime import requalify

    S.clear_index_memo()
    _patch_probes(monkeypatch, [0.03, 0.03])
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": _toy_query},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=1,
    )["toy"]
    assert rec["memo_warm"] is False and rec["memo_entries"] == 0

    S.stage(spark, SF_SMOKE, "r16_memo_probe", lambda: spark.range(3))
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": _toy_query},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=1,
    )["toy"]
    assert rec["memo_warm"] is True and rec["memo_entries"] == 1
    S.clear_index_memo()


def test_memo_entries_scoped_to_corpus_and_app(spark):
    """memo_entries counts only THIS application's stages for the
    queried corpus — a bench re-time at sf0.1 must not read sf0.01
    test stages as warmth."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    S.stage(spark, SF_SMOKE, "r16_scope_probe", lambda: spark.range(3))
    assert S.memo_entries(spark, SF_SMOKE) == 1
    assert S.memo_entries(spark, "/root/testdata/sf0.01") == 0
    S.clear_index_memo()
    assert S.memo_entries(spark, SF_SMOKE) == 0


# ---------------------------------------------------------------------------
# 5. end-of-pass retry for inconclusive rows
# ---------------------------------------------------------------------------


def test_requalify_late_retry_rescues_inconclusive(spark, monkeypatch):
    """All in-loop attempts hot → inconclusive; the end-of-pass retry
    lands clean → the clean attempt REPLACES the contaminated record,
    marked late_retry, with the in-loop hot count preserved."""
    from tools.retime import requalify

    _patch_probes(
        monkeypatch,
        [0.30, 0.25, 0.12, 0.10, 0.40, 0.40, 0.03, 0.03],
    )
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": _toy_query},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=1,
        attempts=3,
    )["toy"]
    assert "inconclusive" not in rec
    assert rec["late_retry"] is True
    assert rec["attempts_probe_hot"] == 3
    assert rec["probe_sec"] == 0.03 and rec["probe_sec_after"] == 0.03
    assert rec["band"] == 2.5 and rec["bench_min"] == 4.0 and rec["ratio"] == 1.6
    assert "retime_min" in rec


def test_requalify_late_retry_errored_attempt_keeps_record(spark, monkeypatch):
    """A late retry whose query execution ERRORS reads idle probes —
    nothing ran — so it must NOT replace the contaminated-but-measured
    in-loop record (review r16: the probe-only guard would have
    produced a 'clean' requalification with no timing and no
    inconclusive flag). The prior record survives intact, annotated
    with the failed retry; the idle probes also must not bump the
    hot-attempt counter."""
    from tools.retime import requalify

    calls = {"n": 0}

    def flaky(spark_, sf_dir):
        calls["n"] += 1
        # runs=1 → 2 executions per attempt; 3 in-loop attempts = 6
        # calls succeed, the late retry (calls 7+) raises.
        if calls["n"] > 6:
            raise RuntimeError("late-retry boom")
        return _toy_query(spark_, sf_dir)

    _patch_probes(
        monkeypatch,
        [0.30, 0.25, 0.12, 0.10, 0.40, 0.40, 0.03, 0.03],
    )
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": flaky},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=1,
        attempts=3,
    )["toy"]
    assert rec["inconclusive"] is True, "contaminated record must survive"
    assert "retime_min" in rec, "the least-bad in-loop measurement is kept"
    assert rec["probe_sec"] == 0.12 and rec["probe_sec_after"] == 0.10
    assert "late_retry" not in rec
    assert "boom" in rec["late_retry_err"]
    assert rec["attempts_probe_hot"] == 3, (
        "an errored clean-probe retry is not a HOT attempt"
    )


# ---------------------------------------------------------------------------
# 6. pre-r15 state-key migration
# ---------------------------------------------------------------------------


def test_migrate_state_keys_rewrites_legacy_formats():
    from bigdata_riveranalysis_spark.streaming.stateful import (
        _migrate_state_keys,
    )

    legacy_and_current = {
        "view": 3,  # pre-r15 raw string
        "\x00null": 2,  # pre-r15 NULL sentinel
        "\x00": 4,  # current NULL bucket
        "\x01click": 1,  # current encoded key
        "click": 5,  # pre-r15 raw spelling of the same type
    }
    assert _migrate_state_keys(legacy_and_current) == {
        "\x01view": 3,
        "\x00": 6,  # "\x00null" merges into the current NULL bucket
        "\x01click": 6,  # raw + encoded spellings merge additively
    }
    # current-format state is a fixed point (the every-batch call is a
    # no-op rewrite, never a drift source)
    current = {"\x00": 7, "\x01view": 2}
    assert _migrate_state_keys(current) == current
    assert _migrate_state_keys({}) == {}


# ---------------------------------------------------------------------------
# 7. TTL knife-edge: data in the expiry batch beats the timeout
# ---------------------------------------------------------------------------


def _replay_session_batches(spark, tmp_path, batches, *, name, timeout=180):
    """One JSON file per micro-batch through session_fold_event_ttl
    (gap 30 min, watermark delay 10 min) into a memory sink under
    availableNow; returns the collected rows. Termination itself is an
    assertion: EventTimeTimeout MUST drain (cleanup batches run only
    while the watermark advances) — the exact property that makes this
    timeout mode registrable where ProcessingTimeTimeout is not."""
    import time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import (
        session_fold_event_ttl,
    )

    src = tmp_path / f"src_{name}"
    src.mkdir()
    t0 = time.time() - len(batches)
    for i, rows in enumerate(batches):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(rows) + "\n")
        os.utime(p, (t0 + i, t0 + i))
    stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
    out = session_fold_event_ttl(
        stream, gap_minutes=30, watermark_delay="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(timeout), (
            "EventTimeTimeout availableNow drain must terminate"
        )
    finally:
        q.stop()
    return sorted(
        spark.table(name).collect(),
        key=lambda r: (r.user_id, r.session_start),
    )


# ---------------------------------------------------------------------------
# 8. EventTimeTimeout session fold: measured boundary semantics
# ---------------------------------------------------------------------------


def test_session_fold_event_ttl_timeout_boundary(spark, tmp_path):
    """The measured Spark semantics the registered oracle replicates:
    state times out iff floor_ms(last)+gap < floor_ms(max ts)-delay
    STRICTLY — equality stays open (knife-edge planted to the
    millisecond on both sides of the boundary), sub-ms components
    truncate, in-batch gaps close inline, and the open session the
    final watermark never reaches is unreported."""
    rows = _replay_session_batches(
        spark,
        tmp_path,
        [
            [
                # u1: session ends 00:10 -> timeout 00:40 << wm -> emitted
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:10:00", 1, "view"),
                # u2 knife-edge: floor_ms(09:20:00.000500)+30min ==
                # floor_ms(10:00:00.000999)-10min -> equality -> OPEN
                _ev(3, "2024-01-01 09:20:00.000500", 2, "view"),
                # u3: 1 ms inside the boundary -> emitted
                _ev(4, "2024-01-01 09:19:59.999", 3, "view"),
                # u4: 60-min in-batch gap -> first session closes 'gap'
                _ev(5, "2024-01-01 01:00:00", 4, "view"),
                _ev(6, "2024-01-01 02:00:00", 4, "view"),
                # u9 anchor sets wm = floor_ms(10:00:00.000999) - 10 min
                _ev(9, "2024-01-01 10:00:00.000999", 9, "view"),
            ]
        ],
        name="r16_sess_edge",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.last_event_id, r.close_reason)
        for r in rows
    }
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 2, "timeout"),
        (3, "2024-01-01 09:19:59", "2024-01-01 09:19:59", 1, 4, "timeout"),
        (4, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1, 5, "gap"),
        (4, "2024-01-01 02:00:00", "2024-01-01 02:00:00", 1, 6, "timeout"),
    }, got


def test_session_fold_event_ttl_multi_batch(spark, tmp_path):
    """Across micro-batches: the watermark advanced by batch 2's data
    fires batch-1 sessions' timeouts in the cleanup batch; a late
    (within-watermark) event folds into the open session WITHOUT
    moving its end backward; the final open sessions stay unreported."""
    rows = _replay_session_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:00:00", 2, "view"),
                _ev(3, "2024-01-01 01:00:00", 4, "view"),
            ],
            [
                # u2's 5h-later event: closes its first session 'gap',
                # and its ts advances the watermark to 04:50 so u1's
                # (timeout 00:30) and u4's (timeout 01:30 after the
                # late fold) sessions expire in the cleanup batch
                _ev(4, "2024-01-01 05:00:00", 2, "view"),
                # u4 late-but-within-watermark event (00:55 > batch-2
                # late-event watermark 23:50): folds in, session
                # becomes 00:55 -> 01:00 with the END unchanged
                _ev(5, "2024-01-01 00:55:00", 4, "view"),
            ],
        ],
        name="r16_sess_multi",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.last_event_id, r.close_reason)
        for r in rows
    }
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1, 1, "timeout"),
        (2, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1, 2, "gap"),
        (4, "2024-01-01 00:55:00", "2024-01-01 01:00:00", 2, 3, "timeout"),
    }, got


def test_feature_map_bundle_data_beats_expired_ttl(spark, tmp_path):
    """The knife-edge the r15 expire-then-rebuild test couldn't reach:
    by the time batch 2 processes, user 1's 1 ms TTL has long expired —
    but batch 2 CONTAINS a user-1 event, and Spark never calls the
    timed-out branch for a key with data in the batch (data wins the
    race at the expiry instant). The bundle must therefore CONTINUE
    (occurrence 2), not reset — the exact opposite outcome of the r15
    idle-user test, from the same TTL configuration."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:01:00", 2, "view"),
            ],
            # batch 2 processes seconds later (>> 1 ms TTL) — user 1's
            # expiry instant has passed, and user 1 has data here
            [
                _ev(3, "2024-01-01 00:02:00", 1, "view"),
                _ev(4, "2024-01-01 00:03:00", 2, "view"),
            ],
        ],
        ttl_ms=1,
        n_rows=4,
        name="r16_ttl_edge",
    )
    assert (rows[1].type_occurrence, rows[1].is_new_type) == (1, True)
    assert (rows[3].type_occurrence, rows[3].is_new_type) == (2, False), (
        "data arriving in the expiry batch must continue the bundle"
    )
    assert rows[3].events_so_far == 2
    assert (rows[4].type_occurrence, rows[4].events_so_far) == (2, 2)
